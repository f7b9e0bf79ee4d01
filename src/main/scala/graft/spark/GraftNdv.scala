package graft.spark

import graft.format.{GraftFileReader, KmvUtil}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Scan-free distinct-count estimates off the footer KMV synopses written
  * by `.option("ndvsketch", "col,...")` (format v004).
  *
  * The cost model is the ANALYZE story: one footer tail-read per file
  * (64 KiB pre-read, no data pages), then a pure-metadata merge — at 100 TB
  * the estimate prices as O(files), not O(rows), and the per-file sketches
  * merge associatively (k smallest distinct hashes of the union), so a real
  * deployment can fold them in a tree or keep a running table-level sketch
  * in the manifest. The hash is the portable md5-nibble fold (KmvUtil), so
  * any engine can recompute the identical sketch from the raw data — which
  * is exactly how the q_ndv_footer oracle checks this path bit-for-bit.
  */
object GraftNdv {

  /** Per-column footer-derived stats: `kth` is the k-th smallest hash when
    * the sketch filled (-1 when it never filled — `estimate` is then the
    * exact distinct count of a complete hash set).
    */
  final case class NdvStat(column: String, k: Int, nHashes: Int, kth: Long, estimate: Double)

  /** Estimate ndv for `cols` of the graft table at `dir`, reading footers
    * only. Throws if a file lacks a synopsis for a requested column —
    * a silent fallback to a scan would defeat the point.
    */
  def estimate(spark: SparkSession, dir: String, cols: Seq[String]): Seq[NdvStat] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = GraftRewriteGuard.listVisible(dir, conf)
    require(files.nonEmpty, s"graft: no data files under $dir")
    val perFile = files.map { f =>
      val fs = GraftFs.get(f.getPath, conf)
      val in = new HadoopSeekableInput(fs, f.getPath, f.getLen)
      try {
        val footer = GraftFileReader.readFooter(in)
        val schema = org.apache.spark.sql.types.DataType.fromJson(footer.schemaJson)
          .asInstanceOf[StructType]
        cols.map { c =>
          val li = GraftSchema.leafIndexOfPath(schema, c).getOrElse(
            throw new IllegalArgumentException(s"graft: column '$c' not in ${f.getPath}"))
          val cm = footer.leaves(li)
          require(cm.kmv != null,
            s"graft: ${f.getPath} has no ndv synopsis for '$c' — " +
              "rewrite with .option(\"ndvsketch\", ...) or compute ndv by scan")
          (c, cm.kmvK, cm.kmv)
        }
      } finally in.close()
    }
    cols.zipWithIndex.map { case (c, ci) =>
      val sketches = perFile.map(_(ci))
      // mixed write-time k across files (e.g. pre/post compaction): the
      // union truncated to the smallest k is still a valid k-min sketch
      val k = sketches.map(_._2).min
      val merged = KmvUtil.merge(sketches.map(_._3), k)
      val est = KmvUtil.estimate(merged, k)
      NdvStat(c, k, merged.length,
        if (merged.length < k) -1L else merged(k - 1), est)
    }
  }
}
