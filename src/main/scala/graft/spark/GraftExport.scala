package graft.spark

import graft.format.StrawboatExport
import org.apache.spark.sql.DataFrame

/** Spark entry point for EXPORTING a DataFrame as reference-layout
  * strawboat files (`ARROW2` magic) — the hand-back path for a deployment
  * still running the reference engine:
  *
  * {{{
  *   GraftExport.write(df, "/data/for_legacy_engine")
  *   // files are readable by the reference reader AND by GraftImport
  * }}}
  *
  * Scale shape: file-parallel — each task encodes its own partition into
  * one `.str` file per `rowsperfile` rows (the reference format is
  * single-row-group, so the file is the unit of parallelism on both the
  * write here and any later read). Memory per task is bounded by
  * `rowsperfile` (the column-contiguous layout requires buffering one
  * file's rows — the reference writer holds the full chunk too).
  *
  * Options: `compression` none|lz4|zstd|snappy (default lz4, the
  * reference's own default), `pagerows` (default 8192), `rowsperfile`
  * (default 262144), `specialcodecs` adaptive|none (default adaptive —
  * integer lanes may emit the reference's OneValue/RLE/Dict codecs).
  */
object GraftExport {

  def write(df: DataFrame, path: String,
      options: Map[String, String] = Map.empty): Long = {
    val schema = df.schema
    StrawboatExport.arrowSchema(schema) // validate type coverage up front
    val codec = StrawboatExport.codecId(options.getOrElse("compression", "lz4"))
    val pageRows = options.getOrElse("pagerows", "8192").toInt
    val rowsPerFile = options.getOrElse("rowsperfile", "262144").toInt
    val special = options.getOrElse("specialcodecs", "adaptive")
    require(pageRows > 0 && rowsPerFile > 0,
      "strawboat export: pagerows and rowsperfile must be positive")
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = GraftFs.get(dest, conf)
    fs.delete(dest, true)
    fs.mkdirs(dest)
    val bconf = HadoopConfBroadcast(conf)
    val destStr = dest.toString
    val counts = df.rdd.mapPartitionsWithIndex { (pi, it) =>
      val fs = GraftFs.get(new org.apache.hadoop.fs.Path(destStr), bconf.value.value)
      var fileIdx = 0
      var total = 0L
      it.grouped(rowsPerFile).foreach { batch =>
        val bytes = StrawboatExport.encodeFile(schema, batch, pageRows, codec, special)
        // stage hidden, publish by rename: a killed task never leaves a
        // truncated file that carries the ARROW2 magic (readers list
        // dot-prefixed names as non-files), and a task retry overwrites
        // the same deterministic name with identical bytes
        val name = f"part-$pi%05d-$fileIdx.str"
        val tmp = new org.apache.hadoop.fs.Path(destStr, s".$name.tmp")
        val fin = new org.apache.hadoop.fs.Path(destStr, name)
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
        fs.delete(fin, false) // a prior attempt's publish, same bytes
        require(fs.rename(tmp, fin),
          s"strawboat export: failed to publish $fin")
        fileIdx += 1
        total += batch.size
      }
      Iterator.single(total)
    }.fold(0L)(_ + _)
    counts
  }
}
