package graft.spark

import graft.format.StrawboatImport
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Spark entry point for importing REFERENCE-layout strawboat files
  * (`ARROW2` magic — written by the reference engine, not by graft):
  *
  * {{{
  *   val df = GraftImport.read(spark, "/data/legacy_strawboat_table")
  *   df.write.format("graft").save("/data/graft_table")   // migrate
  * }}}
  *
  * Scale shape: the driver reads ONE footer (schema); each executor task
  * decodes whole files independently (an import is file-parallel by
  * construction — reference files hold a single row group, so the file is
  * the natural split). This is a migration path, not a query path: run it
  * once, write graft, query graft.
  */
object GraftImport {

  /** List every regular file under `path` (non-recursive beyond hive-style
    * dirs, hidden/meta entries skipped) that starts with the ARROW2 magic.
    */
  def listStrawboatFiles(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = GraftFs.get(p, conf)
    require(fs.exists(p), s"strawboat import: no such path $path")
    val st = fs.getFileStatus(p)
    val candidates =
      if (st.isFile) Seq(st)
      else {
        val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
        def walk(d: org.apache.hadoop.fs.Path): Unit = fs.listStatus(d).foreach { f =>
          val name = f.getPath.getName
          if (name.startsWith(".") || name.startsWith("_")) ()
          else if (f.isDirectory) walk(f.getPath)
          else if (f.isFile && f.getLen > 24) out += f
        }
        walk(p)
        out.result()
      }
    candidates.flatMap { f =>
      val in = new HadoopSeekableInput(fs, f.getPath, f.getLen)
      try { if (StrawboatImport.isStrawboat(in)) Some((f.getPath.toString, f.getLen)) else None }
      finally in.close()
    }
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    val files = listStrawboatFiles(spark, path)
    require(files.nonEmpty,
      s"strawboat import: no ARROW2-magic files under $path")
    val conf = spark.sessionState.newHadoopConf()
    // driver: one footer read pins the schema; every file must agree
    val schema = {
      val p = new org.apache.hadoop.fs.Path(files.head._1)
      val fs = GraftFs.get(p, conf)
      val in = new HadoopSeekableInput(fs, p, files.head._2)
      try StrawboatImport.sparkSchema(StrawboatImport.readFooter(in))
      finally in.close()
    }
    val bconf = HadoopConfBroadcast(conf)
    val schemaJson = schema.json // executor-side drift check against the pin
    val rdd = spark.sparkContext
      .parallelize(files, math.min(files.size, 1024))
      .flatMap { case (file, len) =>
        val p = new org.apache.hadoop.fs.Path(file)
        val fs = GraftFs.get(p, bconf.value.value)
        val in = new HadoopSeekableInput(fs, p, len)
        try {
          val (fileSchema, rows) = StrawboatImport.decodeFile(in)
          // schema pinned from the FIRST footer — a drifted file must fail
          // loudly here, not surface as a row-width mismatch (or silently
          // transposed columns) rows later in the encoder
          require(fileSchema.json == schemaJson,
            s"strawboat import: $file schema $fileSchema drifts from the " +
              "directory schema pinned by the first file — import drifted " +
              "file sets separately")
          rows.map(Row.fromSeq(_))
        } finally in.close()
      }
    spark.createDataFrame(rdd, schema)
  }

  /** One-shot migration: decode reference files, write a native graft
    * table, return the row count.
    */
  def toGraft(spark: SparkSession, src: String, dest: String,
      options: Map[String, String] = Map.empty): Long = {
    val df = read(spark, src)
    val w = df.write.format("graft").mode("overwrite")
    options.foreach { case (k, v) => w.option(k, v) }
    w.save(dest)
    spark.read.format("graft").load(dest).count()
  }
}
