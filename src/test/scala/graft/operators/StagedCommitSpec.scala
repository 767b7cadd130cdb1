package graft.operators

import graft.SparkSpec

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The shared staged-commit protocol at every crash point, for each
  * piece kind. Each kind's template is one tiny live tree plus a staged
  * delta, written once with Spark; every case runs on a byte copy of
  * the template, so the staged part names — and hence the expected live
  * tree after a clean fold — are identical across cases:
  *
  *   (a) staged, no marker → recover rolls back, live unchanged;
  *   (b) marker, fold not started → recover rolls forward (writers and
  *       forward-only readers alike);
  *   (c) marker, fold stopped after the first file copy (with a partial
  *       `.tmp-` copy of the next file) → re-fold converges;
  *   (d) marker deleted, tree left → recover deletes the tree;
  *   (e) `rollBack = false` leaves an uncommitted staging in place. */
class StagedCommitSpec extends SparkSpec {
  import spark.implicits._
  import StagedCommit._

  /** A piece kind's fixture: the staging dir name, its pieces, and the
    * writer of the live tree plus the staged delta under `root`. */
  private case class Kind(name: String, dirName: String, pieces: Seq[Piece],
      write: String => Unit)

  private def ints(xs: Int*): org.apache.spark.sql.DataFrame =
    xs.map(i => (i.toLong, s"row $i", i % 3)).toDF("id", "s", "p")

  private def parts(df: org.apache.spark.sql.DataFrame, partCol: String,
      path: String): Unit =
    df.withColumnRenamed("p", partCol).write.mode("overwrite")
      .partitionBy(partCol).parquet(path)

  private def flat(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  private val kinds = Seq(
    // live bucket=0,1,2; staged bucket=1,2 append into their live twins
    Kind("append", "_pending", Seq(Append("fps", "bucket")), root => {
      parts(ints(0, 1, 2, 3), "bucket", s"$root/fps")
      parts(ints(4, 5), "bucket", s"$root/_pending/fps")
    }),
    // ctl swaps to the staged row; meta was not staged and stays as is
    Kind("swap", "_pending", Seq(Swap("ctl"), Swap("meta")), root => {
      flat(ints(0), s"$root/ctl")
      flat(ints(7), s"$root/meta")
      flat(ints(1), s"$root/_pending/ctl")
    }),
    // the manifest owns bucket=0 (rewritten) and bucket=1 (emptied);
    // bucket=2 is not owned and stays
    Kind("replace", "_staged", Seq(Replace("")), root => {
      parts(ints(0, 1, 2, 3, 4, 5), "bucket", root)
      parts(ints(6), "bucket", s"$root/_staged")
      writeManifest(Paths.get(root, "_staged"), Seq("bucket=0", "bucket=1"))
    }),
    // every live cid= dir is owned: cid=0 and cid=1 swap, cid=2 goes
    Kind("replace-all", "_retrain", Seq(Replace("assigned", Some("cid"))),
      root => {
        parts(ints(0, 1, 2, 5), "cid", s"$root/assigned")
        parts(ints(3, 4), "cid", s"$root/_retrain/assigned")
      }))

  private lazy val templates: Map[String, String] = kinds.map { k =>
    val root = tmpDir(s"staged-${k.name}")
    k.write(root)
    k.name -> root
  }.toMap

  private def commitOf(k: Kind, root: String) =
    new StagedCommit(root, k.dirName, k.pieces)

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.toList.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    }

  private def fresh(k: Kind): String = {
    val root = tmpDir(s"staged-${k.name}-case")
    copyTree(Paths.get(templates(k.name)), Paths.get(root))
    root
  }

  /** Live data files (relative path → bytes), the staging tree excluded. */
  private def live(k: Kind, root: String): Map[String, Seq[Byte]] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.toList
      .filter(f => Files.isRegularFile(f) &&
        !r.relativize(f).toString.startsWith(k.dirName) &&
        !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))
      .map(f => r.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
  }

  /** Hadoop `.<name>.crc` sidecars in the live tree whose data file is
    * gone, the staging tree excluded. */
  private def orphanCrcs(k: Kind, root: String): Seq[String] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.toList.filter { f =>
      val n = f.getFileName.toString
      !r.relativize(f).toString.startsWith(k.dirName) &&
        n.startsWith(".") && n.endsWith(".crc") &&
        !Files.exists(f.resolveSibling(n.stripPrefix(".").stripSuffix(".crc")))
    }.map(r.relativize(_).toString)
  }

  private def tmpLeft(root: String): Boolean =
    Files.walk(Paths.get(root)).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".tmp-"))

  /** Staged data files in fold order: piece by piece, sorted within. */
  private def stagedFiles(k: Kind, root: String): Seq[Path] = {
    val dir = commitOf(k, root).dir
    k.pieces.map(p => dir.resolve(p.name)).filter(Files.exists(_)).flatMap { d =>
      Files.walk(d).iterator().asScala.toList
        .filter(f => Files.isRegularFile(f) &&
          dataFiles(f.getParent).contains(f))
        .sortBy(_.toString)
    }
  }

  kinds.foreach { k =>
    test(s"${k.name}: every crash point converges") {
      val before = live(k, templates(k.name))
      val expected = {
        val root = fresh(k)
        val sc = commitOf(k, root)
        sc.commit()
        sc.fold()
        assert(!Files.exists(sc.dir))
        assert(orphanCrcs(k, root) === Nil, "a fold must not orphan a .crc")
        live(k, root)
      }
      assert(expected !== before, "the fixture's fold must change the live tree")

      // (a) staged, no marker → rollback
      val a = fresh(k)
      assert(commitOf(k, a).recover())
      assert(!Files.exists(commitOf(k, a).dir), "(a) staging must be deleted")
      assert(live(k, a) === before, "(a) rollback must leave live unchanged")

      // (b) marker, fold not started → roll forward, by a writer and by a
      // forward-only reader
      Seq(true, false).foreach { rollBack =>
        val b = fresh(k)
        commitOf(k, b).commit()
        assert(commitOf(k, b).recover(rollBack))
        assert(!Files.exists(commitOf(k, b).dir), s"(b) rollBack=$rollBack")
        assert(live(k, b) === expected, s"(b) rollBack=$rollBack")
        assert(orphanCrcs(k, b) === Nil, s"(b) rollBack=$rollBack")
      }

      // (c) marker, fold stopped after the first file copy, with a partial
      // .tmp- copy of the next file left behind
      val c = fresh(k)
      val sc = commitOf(k, c)
      sc.commit()
      val staged = stagedFiles(k, c)
      def liveDirOf(f: Path) =
        Paths.get(c).resolve(sc.dir.relativize(f.getParent).toString)
      copyInto(staged.head, liveDirOf(staged.head))
      staged.drop(1).headOption.foreach { f =>
        Files.createDirectories(liveDirOf(f))
        Files.write(liveDirOf(f).resolve(".tmp-" + f.getFileName),
          Array[Byte](1, 2, 3))
      }
      assert(sc.recover())
      assert(!Files.exists(sc.dir), "(c) re-fold must finish")
      assert(live(k, c) === expected, "(c) re-fold must converge")
      assert(!tmpLeft(c), "(c) no partial copy may survive the re-fold")
      assert(orphanCrcs(k, c) === Nil, "(c) re-fold must not orphan a .crc")

      // (d) fold done, marker deleted, tree delete cut short
      val d = fresh(k)
      val sd = commitOf(k, d)
      sd.commit()
      sd.fold()
      copyTree(commitOf(k, templates(k.name)).dir, sd.dir)
      assert(!sd.committed)
      assert(sd.recover())
      assert(!Files.exists(sd.dir), "(d) leftover tree must be deleted")
      assert(live(k, d) === expected, "(d) live must stay folded")
      assert(orphanCrcs(k, d) === Nil, "(d) no .crc may be orphaned")

      // (e) a reader never deletes an uncommitted staging
      val e = fresh(k)
      assert(commitOf(k, e).recover(rollBack = false))
      assert(Files.exists(commitOf(k, e).dir), "(e) staging must stay")
      assert(live(k, e) === before, "(e) live must stay unchanged")

      // a clean tree: nothing to recover
      assert(!commitOf(k, a).recover())
    }
  }

  test("replace: a lost manifest leaves the staged dirs as the owned set") {
    val k = kinds.find(_.name == "replace").get
    val root = fresh(k)
    val sc = commitOf(k, root)
    Files.delete(sc.dir.resolve("_BUCKETS"))
    sc.commit()
    sc.fold()
    val after = live(k, root).keySet.map(_.takeWhile(_ != '/'))
    assert(after === Set("bucket=0", "bucket=1", "bucket=2"),
      "without the manifest, the emptied bucket=1 is not owned and stays")
  }

  test("a committed staging failing its precondition rolls back") {
    val k = kinds.find(_.name == "replace-all").get
    val root = fresh(k)
    val before = live(k, root)
    val sc = new StagedCommit(root, k.dirName, k.pieces,
      precondition = _ => false)
    sc.commit()
    assert(sc.recover())
    assert(!Files.exists(sc.dir))
    assert(live(k, root) === before,
      "an incomplete staging must never delete the live partitions")
  }

  test("a custom roll-forward runs only for a committed staging") {
    val root = tmpDir("staged-journal")
    val sc = new StagedCommit(root, "_takedown", Nil)
    var rolled = 0
    Files.createDirectories(sc.stage())
    assert(sc.recover(rollForward = () => rolled += 1))
    assert(rolled === 0 && !Files.exists(sc.dir), "uncommitted: rolled back")
    sc.stage()
    sc.commit()
    assert(sc.recover(rollForward = () => { rolled += 1; sc.finish() }))
    assert(rolled === 1 && !Files.exists(sc.dir), "committed: rolled forward")
  }
}
