package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Layout

/** The one directory swap ([[Layout.swapDir]]) and its recovery
  * ([[Layout.recoverSwapDir]]), driven from a table: each case
  * fabricates the live / tmp / aside dirs an interrupted swap can
  * leave, acts, and states what the target must hold afterwards. Every
  * case ends with the tmp and aside dirs gone. Content is a set of
  * marker file names, so "old" vs "new" content is visible directly.
  */
class SwapDirSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private final case class Case(
      name: String,
      live: Option[Seq[String]],
      tmp: Option[Seq[String]],
      aside: Option[Seq[String]],
      act: (FileSystem, Path) => Unit,
      expectLive: Option[Set[String]])

  private def recover(fs: FileSystem, live: Path): Unit =
    Layout.recoverSwapDir(fs, live)

  private def files(fs: FileSystem, dir: Path): Set[String] =
    fs.listStatus(dir).map(_.getPath.getName).toSet

  private def touch(fs: FileSystem, dir: Path, names: Seq[String]): Unit = {
    fs.mkdirs(dir)
    names.foreach(n => fs.create(new Path(dir, n)).close())
  }

  private val cases = Seq(
    Case("recovery with the live dir present drops a stale tmp and aside",
      live = Some(Seq("new")), tmp = Some(Seq("newer", "_graft_commit")),
      aside = Some(Seq("old")),
      act = recover, expectLive = Some(Set("new"))),
    Case("recovery between the two renames restores the aside dir",
      live = None, tmp = Some(Seq("new", "_graft_commit")),
      aside = Some(Seq("old")),
      act = recover, expectLive = Some(Set("old"))),
    Case("recovery promotes a tmp carrying the commit witness",
      live = None, tmp = Some(Seq("new", "_graft_commit")), aside = None,
      act = recover, expectLive = Some(Set("new", "_graft_commit"))),
    Case("recovery promotes a tmp carrying only the committer's _SUCCESS",
      live = None, tmp = Some(Seq("new", "_SUCCESS")), aside = None,
      act = recover, expectLive = Some(Set("new", "_SUCCESS"))),
    Case("recovery discards a tmp with no commit witness",
      live = None, tmp = Some(Seq("partial")), aside = None,
      act = recover, expectLive = None),
    Case("a FAILED rename-in aborts with the old store recoverable, never deleted",
      live = Some(Seq("data")), tmp = None, aside = None,
      act = { (real, live) =>
        val shadow = new Path(live.getParent, s".apply-tmp-${live.getName}")
        val old = new Path(live.getParent, s".apply-old-${live.getName}")
        // Hadoop signals rename failure by returning FALSE, not throwing —
        // this FS refuses the shadow->live rename, the step AFTER live has
        // already been moved aside: an unchecked swap would fall through
        // to deleting the aside dir and strand the only copy in the tmp
        val failing = new FilterFileSystem(real) {
          override def rename(src: Path, dst: Path): Boolean =
            if (src.getName.startsWith(".apply-tmp-")) false
            else super.rename(src, dst)
        }
        val ex = intercept[java.io.IOException] {
          Layout.swapDir(failing, live)(tmp => touch(real, tmp, Seq("data2")))
        }
        assert(ex.getMessage.contains("rename"))
        assert(real.exists(old), "aborted swap must leave the store aside")
        assert(real.exists(shadow), "shadow untouched after aborted swap")
        // the next entry's recovery heals: aside back to live, no data loss
        Layout.recoverSwapDir(real, live)
        assert(real.exists(new Path(live, "data")),
          "recovery must restore the original store files")
        assert(!real.exists(old))
      },
      expectLive = Some(Set("data"))))

  cases.foreach { c =>
    test(s"swapDir: ${c.name}") {
      val root = Files.createTempDirectory("graft_swapdir").toString
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val live = new Path(root, "store")
      val tmp = new Path(root, ".apply-tmp-store")
      val aside = new Path(root, ".apply-old-store")
      c.live.foreach(touch(fs, live, _))
      c.tmp.foreach(touch(fs, tmp, _))
      c.aside.foreach(touch(fs, aside, _))
      c.act(fs, live)
      assert((if (fs.exists(live)) Some(files(fs, live)) else None) ==
        c.expectLive)
      assert(!fs.exists(tmp) && !fs.exists(aside),
        s"swap siblings left behind: ${files(fs, new Path(root))}")
    }
  }
}
