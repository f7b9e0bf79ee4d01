package graft.spark

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Local-file-system I/O through [[GraftFs]]: graft's writes, DV delete,
  * copy-on-write update, compaction and SQL MERGE start no `chmod`
  * process, while the files keep what Hadoop's `LocalFileSystem` gives
  * them: 0644 files, 0755 directories, a `.crc` sidecar per file, the
  * resolved class's rename rule, and a read that fails on a flipped byte.
  * Process starts are counted with an in-process JFR recording of
  * `jdk.ProcessStart`.
  */
class LocalFsForkSpec extends AnyFunSuite {
  private val base = "/tmp/graft-test/localfs"

  lazy val spark: SparkSession = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.lfs", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.lfs.warehouse", s"$base/wh")
      .getOrCreate()
  }

  /** The commands of the processes `f` started. */
  private def processStarts(f: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val dump = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private def write(dir: String): Unit =
    spark.range(0, 2000).selectExpr("id AS k", "id % 7 AS v").repartition(2)
      .write.format("graft").mode("overwrite").save(dir)

  test("graft table I/O on the local file system starts no chmod process") {
    val dir = s"$base/ops"
    spark.range(1).count() // session start-up forks are not graft's
    val started = processStarts {
      write(dir)
      GraftMaintenance.deleteWhereDv(spark, dir, col("k") % 100 === 0)
      GraftMaintenance.updateWhere(spark, dir, col("k") < 50, Map("v" -> lit(-1L)))
      GraftMaintenance.compact(spark, dir, 1)
      spark.sql("CREATE TABLE lfs.db.t (k BIGINT, v BIGINT)")
      spark.sql("INSERT INTO lfs.db.t SELECT id, id FROM range(100)")
      spark.sql("""MERGE INTO lfs.db.t t USING (
                  |  SELECT id + 90 AS mk, id + 7000 AS mv FROM range(20)) s
                  |ON t.k = s.mk
                  |WHEN MATCHED THEN UPDATE SET v = s.mv
                  |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.mk, s.mv)""".stripMargin)
    }
    val chmods = started.filter(_.contains("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod starts, first: ${chmods.take(3)}")
    val t = spark.read.format("graft").load(dir)
    assert(t.count() == 1980)
    assert(t.filter(col("v") === -1L).count() == 49)
    assert(spark.sql("SELECT count(*), sum(CASE WHEN v >= 7000 THEN 1 ELSE 0 END) FROM lfs.db.t")
      .head() == org.apache.spark.sql.Row(110L, 20L))
  }

  test("local tables keep Hadoop's modes and .crc sidecars") {
    val dir = s"$base/modes"
    write(dir)
    GraftMaintenance.deleteWhereDv(spark, dir, col("k") % 100 === 0)
    val root = Paths.get(dir)
    val entries = Files.walk(root).iterator().asScala.toSeq
    val modes = entries.map(p => p -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    val wrong = modes.filter { case (p, m) =>
      m != (if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--") }
    assert(wrong.isEmpty, s"modes other than 0644/0755: $wrong")
    val data = entries.filter(_.getFileName.toString.endsWith(".graft"))
    assert(data.nonEmpty)
    data.foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"no .crc for $p")
    }
    assert(entries.exists(_.toString.contains("_graft_manifest")))
  }

  test("GraftFs keeps the resolved file system's rename rule; a set fs.file.impl passes through") {
    import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(s"$base/rename")
    val hadoop = dir.getFileSystem(conf)
    val graft = GraftFs.get(dir, conf)
    assert(graft.asInstanceOf[FilterFileSystem].getRawFileSystem.getClass != classOf[RawLocalFileSystem])
    // renaming onto an existing file: Hadoop's LocalFileSystem replaces it,
    // Hive's ProxyLocalFileSystem (when Spark ships Hive) refuses
    def renameOntoExisting(fs: org.apache.hadoop.fs.FileSystem, tag: String): (Boolean, String) = {
      val (src, dst) = (new Path(dir, s"$tag-src"), new Path(dir, s"$tag-dst"))
      Seq(src -> "new", dst -> "old").foreach { case (p, body) =>
        val out = fs.create(p, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      val renamed = fs.rename(src, dst)
      val in = fs.open(dst)
      try (renamed, new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
    assert(renameOntoExisting(graft, "graft") == renameOntoExisting(hadoop, "hadoop"))
    val configured = new org.apache.hadoop.conf.Configuration(conf)
    configured.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    assert(GraftFs.get(dir, configured) eq dir.getFileSystem(configured))
  }

  test("a flipped payload byte still fails the read with ChecksumException") {
    val dir = s"$base/flip"
    write(dir)
    val file = GraftUtil.listDataFiles(dir, spark.sessionState.newHadoopConf())
      .head.getPath.toUri.getPath
    val raf = new java.io.RandomAccessFile(file, "rw")
    try {
      raf.seek(64)
      val b = raf.read()
      raf.seek(64)
      raf.write(b ^ 0x40)
    } finally raf.close()
    val e = intercept[Exception](spark.read.format("graft").load(dir).collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]),
      s"expected a ChecksumException in the cause chain of $e")
  }
}
