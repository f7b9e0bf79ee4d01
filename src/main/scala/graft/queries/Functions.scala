package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar-function & grouping-extension coverage (SURVEY.md §2.2 "expression
  * evaluation / scalar functions — supplied by Spark built-ins"): JSON
  * extraction, string/date/math functions, CUBE grouping sets, ntile
  * windows. Determinism: integer arithmetic, string ops, and comparisons
  * only — no float accumulation outside the decimal convention.
  */
object Functions {

  /** Cache key for a staged re-layout of a source table: sanitized dir plus
    * a fingerprint of the source's recursive (name, length, mtime) listing
    * via the Hadoop FileSystem API, so a regenerated dataset at the same
    * path invalidates the stage instead of silently serving stale data.
    * (java.io.File.length on the root path is only meaningful for a single
    * local file — a directory-shaped or non-local source would fingerprint
    * constant.)
    */
  private def stageKey(s: SparkSession, dir: String, table: String): String =
    // one canonical fingerprint helper (Tables.fingerprint) — the source
    // dirs here are always local paths, and three hand-rolled copies of
    // the same hash-walk invited drift
    dir.replaceAll("[^a-zA-Z0-9.]+", "_") + "_" +
      Tables.fingerprint(s"$dir/$table.parquet")

  /** Cross-process-safe once-only staging. Builds into a process-private
    * sibling temp dir and ATOMICALLY renames it to `stage`; two drivers
    * racing the same stage key both build, exactly one publish wins, and
    * the loser's output is discarded. The previous marker-file pattern
    * (check, build IN PLACE, then mark) let a second driver overwrite a
    * stage the first was still writing — the race the round-9 review
    * flagged. Returns `stage`, ready to read.
    */
  private def stagedOnce(stage: String)(build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dst = Paths.get(stage)
    if (Files.exists(dst)) return stage
    val tmp = stage + ".tmp-" + java.lang.ProcessHandle.current().pid() + "-" +
      java.util.UUID.randomUUID().toString.take(8)
    build(tmp)
    Files.createDirectories(dst.getParent)
    try Files.move(Paths.get(tmp), dst, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.io.IOException =>
        if (Files.exists(dst)) // the other driver published first
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        else throw e
    }
    stage
  }

  /** The q_cdc_changes takedown staging (base commit, in-window commit,
    * changelog'd victim purge), shared with q_sql_cdc_changes so the API
    * and SQL reads consume the identical feed. Returns (stage dir, t1 —
    * the window cut after the base commit). */
  private def cdcChangesStage(s: SparkSession, dir: String): (String, Long) = {
    val stage = stagedOnce(
        s"/tmp/graft_cdc_stage2/${stageKey(s, dir, "documents")}/documents") { t =>
      val d = Tables.parquet(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("victim", col("doc_id") % 10 === 1)
      d.filter(col("doc_id") % 5 =!= 0)
        .write.format("graft").option("partitionby", "victim")
        .mode("append").save(t)
      val fs = new org.apache.hadoop.fs.Path(t)
        .getFileSystem(s.sessionState.newHadoopConf())
      val t1 = graft.spark.GraftManifest
        .list(fs, new org.apache.hadoop.fs.Path(t))
        .map(graft.spark.GraftManifest.nameT).max
      Thread.sleep(5) // the in-window commit must be strictly after t1
      d.filter(col("doc_id") % 5 === 0)
        .write.format("graft").option("partitionby", "victim")
        .mode("append").save(t)
      graft.spark.GraftMaintenance.deleteWhere(s, t,
        col("victim") === true, changelog = true)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(t, "_GRAFT_CDC_T1"), t1.toString)
    }
    (stage, java.nio.file.Files.readString(
      java.nio.file.Paths.get(stage, "_GRAFT_CDC_T1")).trim.toLong)
  }

  /** documents staged once as a lang-partitioned graft table (shared by
    * q_partitioned_scan and q_partition_agg). */
  private def stagedPartitionedDocs(s: SparkSession, dir: String): String = {
    stagedOnce(s"/tmp/graft_part_stage2/${stageKey(s, dir, "documents")}/documents") { t =>
      Tables.parquet(s, dir, "documents")
        .write.format("graft").option("partitionby", "lang")
        .mode("overwrite").save(t)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_count_minmax" -> { (s, dir) =>
      // answered footer-only by the aggregate pushdown (no data pages read)
      Tables.load(s, dir, "lineitem")
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
          count(col("l_quantity")).as("n_qty"),
          min(col("l_shipdate")).as("min_ship"), max(col("l_shipdate")).as("max_ship"),
          min(col("l_extendedprice")).as("min_price"), max(col("l_extendedprice")).as("max_price"))
    },

    "q_partitioned_scan" -> { (s, dir) =>
      // exercises the hive-style partitioned layout in the correctness
      // gate: documents are staged partitioned by lang, the filtered scan
      // prunes whole lang= directories before any footer IO, and the
      // aggregate must match DuckDB over the unpartitioned source rows
      s.read.format("graft").load(stagedPartitionedDocs(s, dir))
        .filter(col("lang").isin("en", "de"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy(col("lang"))
    },

    "q_sql_partitions" -> { (s, dir) =>
      // graft_partitions TVF: per-partition live-row/file stats from
      // footers alone (the which-partition-needs-compaction report). The
      // oracle recomputes the per-partition row counts from the raw
      // rows; file/byte columns are physical and stay out of the compare.
      graft.spark.GraftExtensions.ensure(s)
      s.sql(s"SELECT partition, rows, dv_masked FROM " +
        s"graft_partitions('${stagedPartitionedDocs(s, dir)}') " +
        "ORDER BY partition")
    },

    "q_partition_transform" -> { (s, dir) =>
      // HIDDEN partitioning: events staged `PARTITIONED BY (days(ts))` —
      // the schema keeps `ts`, the directory layout carries derived
      // `ts_day=YYYY-MM-DD` values, and the scan compiles the ts range
      // below into whole-directory pruning BEFORE any footer IO
      // (PartitionTransformSpec asserts the filesPruned metric; this gate
      // proves end-to-end correctness vs DuckDB over the raw rows). At
      // 100 TB this is the single most common event-table layout: nobody
      // materializes a date column by hand or remembers to filter on it.
      val stage = stagedOnce(
          s"/tmp/graft_parttx_stage/${stageKey(s, dir, "events")}/events") { t =>
        Tables.parquet(s, dir, "events")
          .write.format("graft").option("partitionby", "days(ts)")
          .mode("overwrite").save(t)
      }
      s.read.format("graft").load(stage)
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,4)")).cast("double").as("total"),
          countDistinct(col("user_id")).as("users"))
        .orderBy(col("event_type"))
    },

    "q_partition_months" -> { (s, dir) =>
      // months(ts) layout under a month-range predicate: the BI-tool
      // shape (`ts >= first-of-month AND ts < first-of-next`) compiles to
      // whole-directory pruning through the monotonic-transform range
      // lane — at month granularity one dir is a month of data, so this
      // is the coarsest pruning a time-partitioned corpus gets.
      val stage = stagedOnce(
          s"/tmp/graft_partmo_stage/${stageKey(s, dir, "events")}/events") { t =>
        Tables.parquet(s, dir, "events")
          .write.format("graft").option("partitionby", "months(ts)")
          .mode("overwrite").save(t)
      }
      s.read.format("graft").load(stage)
        .filter(col("ts") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-02-01 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,4)")).cast("double").as("total"))
        .orderBy(col("event_type"))
    },

    "q_partition_monthfield" -> { (s, dir) =>
      // the calendar-field lane: month(ts) = M is PERIODIC (no base-column
      // range exists), but on a months(ts) layout each dir pins the month
      // — GraftPredicateImplication's col#month marker filters prune
      // directories a year apart. Oracle-checked end-to-end: the pruned
      // scan + residual filter must match DuckDB exactly.
      val stage = stagedOnce(
          s"/tmp/graft_partmo_stage/${stageKey(s, dir, "events")}/events") { t =>
        Tables.parquet(s, dir, "events")
          .write.format("graft").option("partitionby", "months(ts)")
          .mode("overwrite").save(t)
      }
      s.read.format("graft").load(stage)
        .filter(expr("month(ts) = 1 AND year(ts) = 2024"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"))
        .orderBy(col("event_type"))
    },

    "q_array_contains" -> { (s, dir) =>
      // array-ELEMENT predicate pushdown: documents staged with a tokens
      // array column; the GraftElementPushdown rule compiles
      // array_contains(tokens, 'data') into an element-leaf zone-map
      // predicate DSv2 itself can never deliver. Random text won't prune
      // pages (ZoneMapSpec asserts the pruning on sorted data) — this entry
      // proves end-to-end soundness: the pruned scan + residual filter must
      // match DuckDB exactly.
      val stage = stagedOnce(
          s"/tmp/graft_arr_stage_v3/${stageKey(s, dir, "documents")}/documents") { t =>
        Tables.parquet(s, dir, "documents")
          .withColumn("tokens", split(col("text"), " "))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("tokens"))
          // element blooms: min/max on random tokens never prune; the
          // bloom is what lets the array_contains probe skip pages
          .write.format("graft").option("bloomfilter", "tokens.element")
          .mode("overwrite").save(t)
      }
      s.read.format("graft").load(stage)
        .filter(array_contains(col("tokens"), "data"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          sum(size(col("tokens"))).as("tokens_total"))
        .orderBy(col("lang"))
    },

    "q_partition_agg" -> { (s, dir) =>
      // partition-GROUPED footer-only aggregate: per-lang count/min/max
      // answered from file paths + footers alone — the grouped variant of
      // the aggregate pushdown (AggPushdownSpec asserts zero data pages
      // read). At 100 TB this is a per-partition stats report priced at
      // one 64KiB footer read per file.
      s.read.format("graft").load(stagedPartitionedDocs(s, dir))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), count(col("n_chars")).as("chars_count"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    },

    "q_delete_where" -> { (s, dir) =>
      // row-level DELETE in the correctness gate: the staged copy purges
      // doc_id % 7 == 3 via GraftMaintenance.deleteWhere (file-scoped
      // rewrites); the surviving table must match the oracle's WHERE
      // clause exactly — content fidelity of the purge pass, end to end.
      val stage = stagedOnce(
          s"/tmp/graft_del_stage2/${stageKey(s, dir, "documents")}/documents") { t =>
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.format("graft").option("maxrowsperfile", "200")
          .mode("overwrite").save(t)
        graft.spark.GraftMaintenance.deleteWhere(s, t, col("doc_id") % 7 === 3)
      }
      s.read.format("graft").load(stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy(col("lang"))
    },

    "q_update_where" -> { (s, dir) =>
      // row-level UPDATE in the correctness gate: the staged copy redacts
      // every doc_id % 7 == 3 row in place (n_chars re-bucketed, source
      // masked) via GraftMaintenance.updateWhere — file-scoped rewrites
      // with deterministic crash-resume names; the post-update table must
      // match the oracle's CASE expressions exactly, proving content
      // fidelity of the in-place redaction pass end to end.
      val stage = stagedOnce(
          s"/tmp/graft_upd_stage1/${stageKey(s, dir, "documents")}/documents") { t =>
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.format("graft").option("maxrowsperfile", "200")
          .mode("overwrite").save(t)
        graft.spark.GraftMaintenance.updateWhere(s, t,
          col("doc_id") % 7 === 3,
          Map("n_chars" -> (col("n_chars") % 100),
            "source" -> lit("redacted")))
      }
      s.read.format("graft").load(stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy(col("lang"))
    },

    "q_update_dv" -> { (s, dir) =>
      // MERGE-ON-READ update in the correctness gate: the same redaction
      // as q_update_where, but via updateWhereDv — old versions masked in
      // deletion-vector sidecars, new versions appended in one tagged
      // commit, matched files byte-identical (no rewrite amplification).
      // The post-update view must match the oracle's CASE expressions
      // exactly, proving the mask+append pair is content-equivalent to
      // the copy-on-write rewrite.
      val stage = stagedOnce(
          s"/tmp/graft_updv_stage1/${stageKey(s, dir, "documents")}/documents") { t =>
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.format("graft").option("maxrowsperfile", "200")
          .mode("overwrite").save(t)
        graft.spark.GraftMaintenance.updateWhereDv(s, t,
          col("doc_id") % 7 === 3,
          Map("n_chars" -> (col("n_chars") % 100),
            "source" -> lit("redacted")))
      }
      s.read.format("graft").load(stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy(col("lang"))
    },

    "q_type_widening" -> { (s, dir) =>
      // metadata-only ALTER COLUMN ... TYPE in the correctness gate:
      // generation 1 writes n_chars as INT, the column widens to BIGINT
      // (one sidecar write, zero data rewrites), generation 2 inserts
      // values that need 64 bits. The read serves ONE wide schema over
      // mixed-width files (fill-time widening cast for the old ones) and
      // the aggregate — including footer-eligible min/max — must match
      // the oracle exactly.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_widen_stage1/$key/wh") { t =>
        val cat = s"gwide_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        val docs = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        s.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING, n_chars INT)")
        docs.filter(col("doc_id") % 2 === 0)
          .withColumn("n_chars", col("n_chars").cast("int"))
          .writeTo(s"$cat.docs").append()
        s.sql(s"ALTER TABLE $cat.docs ALTER COLUMN n_chars TYPE BIGINT")
        docs.filter(col("doc_id") % 2 === 1)
          .withColumn("n_chars", col("n_chars") + lit(10000000000L))
          .writeTo(s"$cat.docs").append()
      }
      s.read.format("graft").load(s"$stage/docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"))
    },

    "q_delete_vectors" -> { (s, dir) =>
      // merge-on-read DELETE in the correctness gate: the staged copy
      // masks doc_id % 11 == 5 via deletion-vector sidecars
      // (GraftMaintenance.deleteWhereDv) — data files byte-identical, a
      // ~100-byte bitmap per touched file instead of a rewrite. The scan
      // must serve the masked view exactly (columnar batch compaction;
      // footer aggregates decline), matching the oracle's WHERE clause.
      val stage = stagedOnce(
          s"/tmp/graft_dv_stage1/${stageKey(s, dir, "documents")}/documents") { t =>
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.format("graft").option("maxrowsperfile", "200")
          .mode("overwrite").save(t)
        graft.spark.GraftMaintenance.deleteWhereDv(s, t, col("doc_id") % 11 === 5)
      }
      s.read.format("graft").load(stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy(col("lang"))
    },

    "q_dynamic_overwrite" -> { (s, dir) =>
      // dynamic partition overwrite in the correctness gate: a lang-
      // partitioned catalog table is built from TWO mixed-generation
      // appends (every partition holds files of both), then the 'en'
      // partition alone is re-ingested via writeTo(..).overwritePartitions()
      // with re-bucketed n_chars. Partitions the re-ingest does not touch
      // keep their exact files (byte-identity pinned in
      // OverwriteModesSpec); the aggregate proves the replaced slice and
      // the untouched rest both land content-exact. At 100 TB this is the
      // idempotent daily re-ingest: retirement is O(replaced partition's
      // files), metadata-only — no scan of the other partitions.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_dynov_stage1/$key/wh") { t =>
        val cat = s"gdyno_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        val docs = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
        s.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, source STRING, " +
          "n_chars BIGINT, lang STRING) PARTITIONED BY (lang)")
        docs.filter(col("doc_id") % 3 =!= 2).writeTo(s"$cat.docs").append()
        docs.filter(col("doc_id") % 3 === 2).writeTo(s"$cat.docs").append()
        docs.filter(col("lang") === "en")
          .withColumn("n_chars", col("n_chars") % 97)
          .writeTo(s"$cat.docs").overwritePartitions()
      }
      s.read.format("graft").load(s"$stage/docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    },

    "q_replace_where" -> { (s, dir) =>
      // predicate overwrite (replaceWhere) in the correctness gate: the
      // doc_id band [100, 299] is transactionally replaced with a
      // recomputed slice via writeTo(..).overwrite(cond) — the new files
      // commit first, then the band is deleted from the PRE-COMMIT
      // snapshot through the deleteWhere rewrite scaffold (file-scoped
      // survivor rewrites; a crash leaves old+new, never a missing
      // slice). The aggregate proves replaced and surviving rows both
      // land content-exact.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_replw_stage1/$key/wh") { t =>
        val cat = s"greplw_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        val docs = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        s.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING, " +
          "source STRING, n_chars BIGINT)")
        docs.writeTo(s"$cat.docs").append()
        docs.filter(col("doc_id").between(100, 299))
          .withColumn("n_chars", col("n_chars") % 53)
          .withColumn("source", lit("reingested"))
          .writeTo(s"$cat.docs").overwrite(col("doc_id").between(100, 299))
      }
      s.read.format("graft").load(s"$stage/docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy(col("lang"))
    },

    "q_schema_evolution" -> { (s, dir) =>
      // ALTER TABLE ADD COLUMN in the correctness gate: a catalog table is
      // altered MID-HISTORY — even-doc_id rows are written first, then
      // `ALTER TABLE ... ADD COLUMN quality BIGINT` (metadata-only: one
      // sidecar write, no data rewrite), then the odd rows are inserted
      // WITH the column. The read must serve nulls for pre-ALTER files and
      // values for post-ALTER ones; the aggregate proves both file
      // generations land correctly. Build and read go through two
      // catalog instances because the build runs in stagedOnce's private
      // tmp dir (atomic publish) while the read binds the published path.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_evo_stage1/$key/wh") { t =>
        val cat = s"gevob_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        val docs = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        docs.filter(col("doc_id") % 2 === 0)
          .write.format("graft").mode("overwrite").save(s"$t/docs")
        s.sql(s"ALTER TABLE $cat.docs ADD COLUMN quality BIGINT")
        docs.filter(col("doc_id") % 2 === 1)
          .withColumn("quality", col("n_chars") % 10)
          .writeTo(s"$cat.docs").append()
      }
      val readCat = s"gevor_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("quality")).as("q_sum"),
          count(col("quality")).as("with_quality"))
        .orderBy(col("lang"))
    },

    "q_schema_default" -> { (s, dir) =>
      // ALTER TABLE ADD COLUMN ... DEFAULT in the correctness gate: the
      // default is pure metadata (one sidecar write) — files written
      // BEFORE the ALTER serve the default at fill time (the evolution
      // null-fill extended to constants), files written after carry
      // explicit values. The oracle reconstructs both generations with a
      // CASE; min/sum/count over the column prove the constant fill and
      // the mixed-generation merge land exactly.
      // ... and CREATE TABLE (grade BIGINT DEFAULT 7): the creation-time
      // default flows through the same CURRENT/EXISTS_DEFAULT metadata
      // (catalog declares SUPPORT_COLUMN_DEFAULT_VALUE), so an INSERT
      // omitting the column lands the constant at write time.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_default_stage2/$key/wh") { t =>
        val cat = s"gdefb_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        val docs = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        s.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING, " +
          "n_chars BIGINT, grade BIGINT DEFAULT 7)")
        docs.filter(col("doc_id") % 2 === 0)
          .createOrReplaceTempView(s"gdef_src_$key")
        s.sql(s"INSERT INTO $cat.docs (doc_id, lang, n_chars) " +
          s"SELECT doc_id, lang, n_chars FROM gdef_src_$key")
        s.sql(s"ALTER TABLE $cat.docs ADD COLUMN tier BIGINT DEFAULT 3")
        docs.filter(col("doc_id") % 2 === 1)
          .withColumn("grade", col("doc_id") % 3)
          .withColumn("tier", col("doc_id") % 5)
          .writeTo(s"$cat.docs").append()
      }
      val readCat = s"gdefr_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("grade")).as("grade_sum"),
          min(col("grade")).as("grade_min"),
          sum(col("tier")).as("tier_sum"),
          min(col("tier")).as("tier_min"),
          count(col("tier")).as("tier_count"))
        .orderBy(col("lang"))
    },

    "q_column_mapping" -> { (s, dir) =>
      // metadata-only DROP/RENAME COLUMN in the correctness gate: even
      // doc_id rows are written under the ORIGINAL column names, then
      // `RENAME COLUMN n_chars TO chars_n` and `DROP COLUMN source` run
      // (pure sidecar writes — GraftColumnMap; ZERO data files rewrite),
      // then the odd rows are inserted under the NEW schema. The read must
      // resolve the renamed column across BOTH file generations (old files
      // carry the physical name n_chars, new ones chars_n) and must not
      // surface the dropped column — the oracle expresses the same result
      // over the raw table with the original names.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_colmap_stage1/$key/wh") { t =>
        val cat = s"gcmb_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        val docs = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        docs.filter(col("doc_id") % 2 === 0)
          .write.format("graft").mode("overwrite").save(s"$t/docs")
        s.sql(s"ALTER TABLE $cat.docs RENAME COLUMN n_chars TO chars_n")
        s.sql(s"ALTER TABLE $cat.docs DROP COLUMN source")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars").as("chars_n"))
          .writeTo(s"$cat.docs").append()
      }
      val readCat = s"gcmr_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .filter(col("chars_n") > 20) // filter pushdown resolves via the alias too
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("chars_n")).as("chars"),
          min(col("chars_n")).as("min_chars"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    },

    "q_sql_delete" -> { (s, dir) =>
      // pure-SQL row-level DELETE in the correctness gate: the staged
      // catalog table loses rows via `DELETE FROM ... WHERE <translatable
      // predicate>` (SupportsDelete routes it into GraftMaintenance
      // .deleteWhere — the distributed purge pass), and the surviving
      // aggregate must match the oracle's inverted WHERE exactly. The
      // predicate mixes comparison, equality, and conjunction/disjunction
      // so the Filter->Column translation path is exercised end to end.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_sqldel_stage1/$key/wh") { t =>
        val cat = s"gdelb_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.format("graft").option("maxrowsperfile", "200")
          .mode("overwrite").save(s"$t/docs")
        s.sql(s"DELETE FROM $cat.docs WHERE (lang = 'en' AND doc_id < 300) " +
          "OR n_chars >= 900")
      }
      val readCat = s"gdelr_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy(col("lang"))
    },

    "q_sql_update" -> { (s, dir) =>
      // pure-SQL row-level UPDATE in the correctness gate: the staged
      // catalog table is redacted in place via `UPDATE ... SET ... WHERE`
      // (GraftUpdateRewrite routes the analyzed UpdateTable into
      // GraftMaintenance.updateWhere — Spark has no native UPDATE path
      // without SupportsRowLevelOperations), and the post-update aggregate
      // must match the oracle's CASE expressions exactly. Assignments mix
      // an expression over the pre-update row and a literal, the WHERE
      // mixes modulo and comparison — the expression re-anchoring path is
      // exercised end to end.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_sqlupd_stage1/$key/wh") { t =>
        val cat = s"gupdb_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.format("graft").option("maxrowsperfile", "200")
          .mode("overwrite").save(s"$t/docs")
        s.sql(s"UPDATE $cat.docs SET n_chars = n_chars % 97 + doc_id % 5, " +
          "source = 'redacted' WHERE doc_id % 9 = 4 AND n_chars > 50")
      }
      val readCat = s"gupdr_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy(col("lang"))
    },

    "q_sql_merge" -> { (s, dir) =>
      // pure-SQL MERGE INTO (upsert) in the correctness gate: the staged
      // catalog table takes one CDC-style batch — matched rows re-valued
      // through UPDATE assignments reading the source side, unmatched
      // source rows appended through INSERT — and the post-merge aggregate
      // must match the oracle's CASE + UNION ALL reconstruction exactly.
      // GraftMergeRewrite routes the analyzed MergeIntoTable into
      // GraftMaintenance.mergeInto (probe, file-scoped rewrites, one
      // appended commit).
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_sqlmrg_stage2/$key/wh") { t =>
        val cat = s"gmrgb_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        val docs = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        docs.write.format("graft").option("maxrowsperfile", "200")
          .mode("overwrite").save(s"$t/docs")
        val srcDf = docs.filter(col("doc_id") % 11 === 7)
          .select(col("doc_id"), col("lang"), lit("merged").as("source"),
            (col("n_chars") % 50 + 7).as("n_chars"))
          .unionAll(docs.filter(col("doc_id") % 13 === 2)
            .select((col("doc_id") + 1000000000L).as("doc_id"), col("lang"),
              lit("inserted").as("source"), (col("doc_id") % 31).as("n_chars")))
        srcDf.createOrReplaceTempView(s"mrg_src_$key")
        s.sql(s"MERGE INTO $cat.docs AS t USING mrg_src_$key AS s " +
          "ON t.doc_id = s.doc_id " +
          "WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars, source = s.source " +
          "WHEN NOT MATCHED THEN INSERT (doc_id, lang, source, n_chars) " +
          "VALUES (s.doc_id, s.lang, s.source, s.n_chars)")
      }
      val readCat = s"gmrgr_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy(col("lang"))
    },

    "q_sql_merge_cdc" -> { (s, dir) =>
      // the CANONICAL CDC-apply shape in the correctness gate: one MERGE
      // with tombstone deletes (op 'D'), updates (op 'U'), and inserts —
      // first-true clause ordering, conditional actions, all through
      // GraftMergeRewrite -> mergeApply. Slices are DISJOINT by key (a
      // duplicate source key would trip the SQL cardinality rule).
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_sqlcdc_stage1/$key/wh") { t =>
        val cat = s"gcdcb_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        val docs = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        docs.write.format("graft").option("maxrowsperfile", "200")
          .mode("overwrite").save(s"$t/docs")
        val srcDf = docs.filter(col("doc_id") % 17 === 5)
          .select(col("doc_id"), col("lang"), lit("x").as("source"),
            lit(0L).as("n_chars"), lit("D").as("op"))
          .unionAll(docs.filter(col("doc_id") % 11 === 7 && col("doc_id") % 17 =!= 5)
            .select(col("doc_id"), col("lang"), lit("merged").as("source"),
              (col("n_chars") % 50 + 7).as("n_chars"), lit("U").as("op")))
          .unionAll(docs.filter(col("doc_id") % 13 === 2)
            .select((col("doc_id") + 1000000000L).as("doc_id"), col("lang"),
              lit("inserted").as("source"), (col("doc_id") % 31).as("n_chars"),
              lit("U").as("op")))
        srcDf.createOrReplaceTempView(s"cdc_src_$key")
        s.sql(s"MERGE INTO $cat.docs AS t USING cdc_src_$key AS s " +
          "ON t.doc_id = s.doc_id " +
          "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars, source = s.source " +
          "WHEN NOT MATCHED AND s.op = 'U' THEN INSERT (doc_id, lang, source, n_chars) " +
          "VALUES (s.doc_id, s.lang, s.source, s.n_chars)")
      }
      val readCat = s"gcdcr_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .orderBy(col("lang"))
    },

    "q_sql_merge_dv" -> { (s, dir) =>
      // MERGE-ON-READ MERGE in the correctness gate: the same canonical
      // CDC shape as q_sql_merge_cdc (tombstone deletes, updates,
      // inserts) routed through `graft.merge.mode=dv` — matched rows are
      // MASKED via deletion-vector sidecars and their new versions
      // appended under one tagged commit, so every pre-existing data file
      // must stay byte-identical. That invariant folds into the result as
      // a rewritten-file count the oracle pins to 0; the view itself must
      // equal the copy-on-write oracle exactly.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_sqlmdv_stage1/$key/wh") { t =>
        val cat = s"gmdvb_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        val docs = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        docs.write.format("graft").option("maxrowsperfile", "200")
          .mode("overwrite").save(s"$t/docs")
        val conf = s.sessionState.newHadoopConf()
        def fileMap: Map[String, Long] =
          graft.spark.GraftUtil.listDataFiles(s"$t/docs", conf)
            .map(f => f.getPath.toString -> f.getLen).toMap
        val before = fileMap
        val srcDf = docs.filter(col("doc_id") % 17 === 5)
          .select(col("doc_id"), col("lang"), lit("x").as("source"),
            lit(0L).as("n_chars"), lit("D").as("op"))
          .unionAll(docs.filter(col("doc_id") % 11 === 7 && col("doc_id") % 17 =!= 5)
            .select(col("doc_id"), col("lang"), lit("merged").as("source"),
              (col("n_chars") % 50 + 7).as("n_chars"), lit("U").as("op")))
          .unionAll(docs.filter(col("doc_id") % 13 === 2)
            .select((col("doc_id") + 1000000000L).as("doc_id"), col("lang"),
              lit("inserted").as("source"), (col("doc_id") % 31).as("n_chars"),
              lit("U").as("op")))
        srcDf.createOrReplaceTempView(s"mdv_src_$key")
        s.conf.set("graft.merge.mode", "dv")
        try s.sql(s"MERGE INTO $cat.docs AS t USING mdv_src_$key AS s " +
          "ON t.doc_id = s.doc_id " +
          "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars, source = s.source " +
          "WHEN NOT MATCHED AND s.op = 'U' THEN INSERT (doc_id, lang, source, n_chars) " +
          "VALUES (s.doc_id, s.lang, s.source, s.n_chars)")
        finally s.conf.unset("graft.merge.mode")
        val after = fileMap
        val rewritten = before.count { case (p, len) => !after.get(p).contains(len) }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_MDV_REWRITES"), rewritten.toString)
      }
      val rewrote = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_MDV_REWRITES")).trim.toInt
      val readCat = s"gmdvr_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          countDistinct(col("source")).as("sources"))
        .withColumn("rewritten_preexisting", lit(rewrote))
        .orderBy(col("lang"))
    },

    "q_sql_analyze" -> { (s, dir) =>
      // STATS BACKFILL in the correctness gate: documents lands as two
      // commits BEFORE the table declares per-page stats (TBLPROPERTIES
      // graft.bloomfilter/graft.ndvsketch) and one after, then
      // `graft_analyze` materializes the declaration onto exactly the two
      // pre-DDL files (footer-only membership, identity rewrite). Folded
      // invariants: content identical (the oracle pins it bit-for-bit),
      // the backfill rewrote exactly the missing files, a re-run
      // converges to zero work, and GraftNdv resolves footer-only for
      // the whole table afterwards.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_sqlanalyze_stage1/$key/wh") { t =>
        graft.spark.GraftExtensions.ensure(s)
        val cat = s"ganz_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        s.sql(s"CREATE TABLE $cat.docs " +
          "(doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT)")
        val d = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        // three disjoint slices whose union is the whole table: two
        // pre-declaration commits, one post-declaration
        d.filter(col("doc_id") % 2 === 0).coalesce(1).writeTo(s"$cat.docs").append()
        d.filter(col("doc_id") % 4 === 1).coalesce(1).writeTo(s"$cat.docs").append()
        s.sql(s"ALTER TABLE $cat.docs SET TBLPROPERTIES (" +
          "'graft.bloomfilter'='lang', 'graft.ndvsketch'='doc_id')")
        d.filter(col("doc_id") % 4 === 3).coalesce(1).writeTo(s"$cat.docs").append()
        def stats(): Map[String, Long] =
          s.sql(s"SELECT * FROM graft_analyze('$t/docs')").collect()
            .map(r => r.getString(1) -> r.getLong(2)).toMap
        val st = stats()
        val st2 = stats() // convergence probe: second run must be a no-op
        val ndvOk = graft.spark.GraftNdv.estimate(s, s"$t/docs", Seq("doc_id"))
          .head.estimate > 0
        val ok = st("files") == 3 && st("files_missing_stats") == 2 &&
          st("files_rewritten") == 2 && st2("files_rewritten") == 0 && ndvOk
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_ANALYZED"), (if (ok) 1 else 0).toString)
      }
      val analyzed = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_ANALYZED")).trim.toInt
      s.read.format("graft").load(s"$stage/docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .withColumn("analyzed", lit(analyzed))
        .orderBy(col("lang"))
    },

    "q_sql_compact" -> { (s, dir) =>
      // SQL-ONLY MAINTENANCE in the correctness gate: a fragmented orders
      // staging is compacted through the `graft_compact` table function
      // (the CALL-style lifecycle surface — no library API touched), and
      // the result folds in two invariants the oracle pins: the content
      // aggregate is unchanged bit-for-bit, and the file count actually
      // fell (compacted = 1). graft_vacuum and graft_expire_manifests run
      // after it through the same surface (their stat rows must be
      // readable; retention semantics are spec-tested).
      val stage = stagedOnce(
          s"/tmp/graft_sqlcompact_stage1/${stageKey(s, dir, "orders")}/orders") { t =>
        graft.spark.GraftExtensions.ensure(s)
        Tables.parquet(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(8)
          .write.format("graft").option("maxrowsperfile", "2000")
          .mode("overwrite").save(t)
        val n0 = graft.spark.GraftUtil.listDataFiles(t,
          s.sessionState.newHadoopConf()).size
        s.sql(s"SELECT * FROM graft_compact('$t', 2)").collect()
        s.sql(s"SELECT * FROM graft_vacuum('$t', " +
          s"${System.currentTimeMillis() + 60000})").collect()
        s.sql(s"SELECT * FROM graft_expire_manifests('$t', 0)").collect()
        val n1 = graft.spark.GraftUtil.listDataFiles(t,
          s.sessionState.newHadoopConf()).size
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_COMPACTED"),
          (if (n1 < n0 && n1 <= 2) 1 else 0).toString)
      }
      val compacted = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_COMPACTED")).trim.toInt
      s.read.format("graft").load(stage)
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("sum_ok"),
          countDistinct(col("o_custkey")).as("custs"))
        .withColumn("compacted", lit(compacted))
    },

    "q_sql_restore" -> { (s, dir) =>
      // RESTORE in the correctness gate: documents staged as commit 1
      // (even doc_ids), then a VERSIONED dv delete masks a slice, then
      // commit 2 appends the odds — and `graft_restore(path, 1)` must
      // physically roll all of it back: the appended files deleted, the
      // versioned masks un-happened, version ordinals unrenumbered. The
      // final CURRENT read (no pin) must equal the oracle's
      // `WHERE doc_id % 2 = 0` view bit-for-bit; the restore's own stat
      // rows fold in as a pinned `restored` invariant.
      val stage = stagedOnce(
          s"/tmp/graft_sqlrestore_stage1/${stageKey(s, dir, "documents")}/docs") { t =>
        graft.spark.GraftExtensions.ensure(s)
        val d = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        d.filter(col("doc_id") % 2 === 0)
          .write.format("graft").mode("append").save(t)
        Thread.sleep(5) // strictly-after commit times for the pin
        graft.spark.GraftMaintenance.deleteWhereDv(s, t,
          col("doc_id") % 10 === 4, takedown = false)
        Thread.sleep(5)
        d.filter(col("doc_id") % 2 === 1)
          .write.format("graft").mode("append").save(t)
        val stats = s.sql(s"SELECT * FROM graft_restore('$t', 1)")
          .collect().map(r => (r.getString(1), r.getLong(2))).toMap
        val ok = stats("version") == 1 && stats("files_removed") >= 1 &&
          stats("dv_generations_removed") >= 1
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_RESTORED"),
          (if (ok) 1 else 0).toString)
      }
      val restored = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_RESTORED")).trim.toInt
      s.read.format("graft").load(stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .withColumn("restored", lit(restored))
        .orderBy(col("lang"))
    },

    "q_sql_replace" -> { (s, dir) =>
      // ATOMIC REPLACE in the correctness gate: a catalog table built by
      // CTAS, then CREATE OR REPLACE TABLE AS SELECT swaps in a filtered
      // + reshaped generation through the StagingTableCatalog path (the
      // staged write + two-rename swap — a failed query would have left
      // the first generation intact, spec'd in ReplaceTableSpec). The
      // final read must equal the oracle recomputing the replacement
      // SELECT from the raw parquet.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_sqlreplace_stage1/$key/wh") { t =>
        val cat = s"grepb_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .createOrReplaceTempView(s"rep_src_$key")
        s.sql(s"CREATE TABLE $cat.docs AS SELECT * FROM rep_src_$key")
        s.sql(s"CREATE OR REPLACE TABLE $cat.docs AS " +
          s"SELECT doc_id, lang, n_chars * 2 AS n2 FROM rep_src_$key " +
          "WHERE doc_id % 2 = 0")
      }
      val readCat = s"grepr_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n2")).cast("long").as("n2sum"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    },

    "q_sql_history" -> { (s, dir) =>
      // COMMIT HISTORY in the correctness gate: orders staged as three
      // single-file appends (keyed residue slices), then `graft_history`
      // must report each version's file count and FOOTER row sum exactly
      // — the oracle recomputes every slice's cardinality from the raw
      // parquet, so a drifted manifest listing, a mis-ordered version
      // log, or a wrong footer sum all hash-mismatch.
      val stage = stagedOnce(
          s"/tmp/graft_sqlhistory_stage1/${stageKey(s, dir, "orders")}/orders") { t =>
        graft.spark.GraftExtensions.ensure(s)
        val o = Tables.parquet(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        (0 until 3).foreach { r =>
          o.filter(col("o_orderkey") % 3 === r).coalesce(1)
            .write.format("graft").mode("append").save(t)
          Thread.sleep(5)
        }
      }
      graft.spark.GraftExtensions.ensure(s)
      s.sql(s"SELECT version, files, `rows` AS n_rows FROM " +
          s"graft_history('$stage') ORDER BY version")
    },

    "q_sql_cdc_apply" -> { (s, dir) =>
      // the CDC CONSUMER as pure SQL: a source table takes a
      // changelog-enabled takedown, and graft_apply_changes syncs a fresh
      // keyed target from the (0, max] window — inserts from the source's
      // own commits, deletes from the feed, one statement. The target
      // must equal the source's current state, which the oracle expresses
      // directly over the raw parquet.
      val stage = stagedOnce(
          s"/tmp/graft_sqlapply_stage1/${stageKey(s, dir, "documents")}/root") { t =>
        graft.spark.GraftExtensions.ensure(s)
        val src = s"$t/src"; val tgt = s"$t/tgt"
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.format("graft").option("maxrowsperfile", "5000")
          .mode("overwrite").save(src)
        graft.spark.GraftMaintenance.deleteWhere(s, src,
          col("doc_id") % 7 === 3, changelog = true)
        s.sql(s"SELECT * FROM graft_apply_changes('$src', 0, " +
          s"${Long.MaxValue}L, '$tgt', 'doc_id')").collect()
      }
      s.read.format("graft").load(s"$stage/tgt")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    },

    "q_sql_drop_partition" -> { (s, dir) =>
      // PARTITION MANAGEMENT in the gate: a lang-partitioned catalog
      // table loses one partition through ALTER TABLE DROP PARTITION —
      // whole-partition retirement via the dynamic-overwrite scaffold,
      // untouched partitions byte-identical (spec'd) — and the surviving
      // content must match the oracle's lang filter exactly; the
      // remaining SHOW PARTITIONS count folds in as a pinned invariant.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_sqldroppart_stage1/$key/wh") { t =>
        val cat = s"gdpb_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"), col("lang"))
          .createOrReplaceTempView(s"dp_src_$key")
        s.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, n_chars BIGINT, " +
          "lang STRING) PARTITIONED BY (lang)")
        s.sql(s"INSERT INTO $cat.docs SELECT * FROM dp_src_$key")
        s.sql(s"ALTER TABLE $cat.docs DROP PARTITION (lang = 'de')")
        val n = s.sql(s"SHOW PARTITIONS $cat.docs").count()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_PARTS"), n.toString)
      }
      val parts = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_PARTS")).trim.toInt
      val readCat = s"gdpr_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .withColumn("parts_left", lit(parts.toLong))
        .orderBy(col("lang"))
    },

    "q_sql_compact_partition" -> { (s, dir) =>
      // PARTITION-SCOPED COMPACTION in the gate: a lang-partitioned docs
      // table fragmented by maxrowsperfile, then ONE partition compacted
      // through graft_compact_partition — the content aggregate must be
      // bit-identical to the raw parquet and two invariants fold in: the
      // target partition's file count actually fell, and every other
      // partition's files are byte-identical (the OPTIMIZE WHERE
      // contract).
      val stage = stagedOnce(
          s"/tmp/graft_sqlcpart_stage2/${stageKey(s, dir, "documents")}/docs") { t =>
        graft.spark.GraftExtensions.ensure(s)
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"), col("lang"))
          .write.format("graft").option("partitionby", "lang")
          .option("maxrowsperfile", "50")
          .mode("overwrite").save(t)
        val conf = s.sessionState.newHadoopConf()
        def files(p: String => Boolean): Map[String, Long] =
          graft.spark.GraftUtil.listDataFiles(t, conf)
            .filter(f => p(f.getPath.toString))
            .map(f => f.getPath.toString -> f.getLen).toMap
        val othersBefore = files(!_.contains("lang=en"))
        val enBefore = files(_.contains("lang=en")).size
        s.sql(s"SELECT * FROM graft_compact_partition('$t', 'lang=en', 1)")
          .collect()
        val ok = files(!_.contains("lang=en")) == othersBefore &&
          files(_.contains("lang=en")).size < enBefore
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_CPART"), (if (ok) 1 else 0).toString)
      }
      val compacted = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_CPART")).trim.toInt
      s.read.format("graft").load(stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .withColumn("scoped_ok", lit(compacted))
        .orderBy(col("lang"))
    },

    "q_sql_constraints" -> { (s, dir) =>
      // CHECK CONSTRAINTS in the gate: a catalog table declares an
      // enforced CHECK, a violating INSERT and a violating UPDATE must
      // both abort atomically (nothing lands — Spark's write-path
      // enforcement for the INSERT, the rewrite layer's pre-flight
      // validation for the UPDATE), and the surviving content must match
      // the oracle recomputing the conforming slice. The two rejections
      // fold in as pinned invariants.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_sqlck_stage1/$key/wh") { t =>
        val cat = s"gckb_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .createOrReplaceTempView(s"ck_src_$key")
        s.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING, " +
          "n_chars BIGINT, CONSTRAINT chars_ok CHECK (n_chars >= 0))")
        s.sql(s"INSERT INTO $cat.docs SELECT * FROM ck_src_$key")
        val insRejected =
          try { s.sql(s"INSERT INTO $cat.docs VALUES (-1, 'xx', -5)"); 0 }
          catch { case _: Exception => 1 }
        val updRejected =
          try { s.sql(s"UPDATE $cat.docs SET n_chars = -1 WHERE doc_id % 2 = 0"); 0 }
          catch { case _: Exception => 1 }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_CK"),
          s"$insRejected$updRejected")
      }
      val flags = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_CK")).trim
      val readCat = s"gckr_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.table(s"$readCat.docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .withColumn("insert_rejected", lit(flags.substring(0, 1).toInt))
        .withColumn("update_rejected", lit(flags.substring(1, 2).toInt))
        .orderBy(col("lang"))
    },

    "q_sql_dv" -> { (s, dir) =>
      // DELETION-VECTOR INTROSPECTION in the gate: a versioned dv delete
      // masks a known slice, and graft_dv's CURRENT generations must
      // account for exactly that slice's cardinality — the sidecar
      // bookkeeping audited against a data-derived count.
      val stage = stagedOnce(
          s"/tmp/graft_sqldv_stage1/${stageKey(s, dir, "documents")}/docs") { t =>
        graft.spark.GraftExtensions.ensure(s)
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.format("graft").option("maxrowsperfile", "5000")
          .mode("overwrite").save(t)
        graft.spark.GraftMaintenance.deleteWhereDv(s, t,
          col("doc_id") % 9 === 2, takedown = false)
      }
      graft.spark.GraftExtensions.ensure(s)
      s.sql(s"SELECT posture, CAST(sum(cardinality) AS BIGINT) AS masked " +
        s"FROM graft_dv('$stage') WHERE current GROUP BY posture")
    },

    "q_sorted_topn" -> { (s, dir) =>
      // TOP-N pushdown in the correctness gate: orders staged sorted on
      // (o_totalprice, o_orderkey) — the write publishes the sort marker
      // — and the cheapest-25 query must match DuckDB exactly while the
      // scan plans only each file's leading pages (the per-file superset
      // contract; SortOrderSpec asserts the plan, this gate proves the
      // content end to end). Tie-break on o_orderkey keeps the order
      // deterministic cross-engine.
      val stage = stagedOnce(
          s"/tmp/graft_topn_stage2/${stageKey(s, dir, "orders")}/orders") { t =>
        Tables.parquet(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(4)
          .write.format("graft")
          .option("sortby", "o_totalprice,o_orderkey")
          .option("maxrowsperfile", "4000")
          .mode("overwrite").save(t)
      }
      s.read.format("graft").load(stage)
        .orderBy(col("o_totalprice"), col("o_orderkey"))
        .limit(25)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },

    "q_vacuum" -> { (s, dir) =>
      // VACUUM in the correctness gate: a staged orders table is littered
      // with exactly the junk a crashed load leaves behind (aged staging
      // tmps at the root and in the manifest dir, a deleteWhere scratch
      // tree), then vacuumed. The gate proves two things at once: the
      // surviving table still matches the oracle over the raw parquet
      // bit-for-bit (no live file was touched), and a recount of
      // remaining junk — folded into the result row — is literally 0
      // (everything aged was collected).
      val stage = stagedOnce(
          s"/tmp/graft_vac_stage2/${stageKey(s, dir, "orders")}/orders") { t =>
        val tRoot = new org.apache.hadoop.fs.Path(t)
        val tfs = tRoot.getFileSystem(s.sessionState.newHadoopConf())
        Tables.parquet(s, dir, "orders")
          .write.format("graft").option("maxrowsperfile", "5000")
          .mode("overwrite").save(t)
        def plant(p: org.apache.hadoop.fs.Path): Unit = {
          val out = tfs.create(p, true); out.write(7); out.close()
          tfs.setTimes(p, 1000L, 1000L) // ancient: well past any cutoff
        }
        plant(new org.apache.hadoop.fs.Path(tRoot, ".crashed.graft.a1.tmp"))
        plant(new org.apache.hadoop.fs.Path(tRoot,
          s"${graft.spark.GraftManifest.DirName}/.000-stale.tmp"))
        plant(new org.apache.hadoop.fs.Path(tRoot, "_graft_tmp_delete/x/part.graft"))
        val st = graft.spark.GraftMaintenance.vacuum(s, t,
          olderThanMs = System.currentTimeMillis() - 60000)
        require(st.stagingTmps == 2 && st.scratchFiles == 1,
          s"q_vacuum staging: expected 2 tmps + 1 scratch collected, got $st")
      }
      val root = new org.apache.hadoop.fs.Path(stage)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      // junk recount AFTER vacuum: aged tmps / scratch remaining (0)
      var junkLeft = 0
      def walk(d: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(d).foreach { f =>
          val n = f.getPath.getName
          if (f.isDirectory) { if (n != graft.spark.GraftCdc.ChangesDir) walk(f.getPath) }
          else if ((n.startsWith(".") && n.endsWith(".tmp")) ||
            f.getPath.getParent.getName == "_graft_tmp_delete") junkLeft += 1
        }
      walk(root)
      s.read.format("graft").load(stage)
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("sum_ok"),
          countDistinct(col("o_custkey")).as("custs"))
        .withColumn("leftover_junk", lit(junkLeft))
    },

    "q_zorder_scan" -> { (s, dir) =>
      // Z-ORDER layout in the gate: orders re-clustered on (o_custkey,
      // o_totalprice) via GraftMaintenance.zorder; a 2-d range probe must
      // match DuckDB over the raw table (both-axis page pruning is
      // asserted in GraftMaintenanceSpec — here the gate proves the
      // re-layout preserved content exactly).
      val stage = stagedOnce(
          s"/tmp/graft_z_stage2/${stageKey(s, dir, "orders")}/orders") { t =>
        Tables.parquet(s, dir, "orders")
          .write.format("graft").option("maxrowsperfile", "2000")
          .mode("overwrite").save(t)
        graft.spark.GraftMaintenance.zorder(s, t,
          Seq("o_custkey", "o_totalprice"), targetFiles = 8)
      }
      s.read.format("graft").load(stage)
        .filter(col("o_custkey") <= 200 && col("o_totalprice") >= 50000.0)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_ok"),
          countDistinct(col("o_custkey")).as("custs"))
    },

    "q_version_asof" -> { (s, dir) =>
      // ORDINAL time travel in the correctness gate: a catalog table built
      // as two commits (even doc_ids, then odd); `VERSION AS OF 1` must
      // see exactly the first commit — the oracle expresses it as
      // `WHERE doc_id % 2 = 0`. Proves the commit-ordinal -> manifest-time
      // resolution pins the file set end to end through pure SQL.
      val key = stageKey(s, dir, "documents").replaceAll("[^a-zA-Z0-9]", "_")
      val stage = stagedOnce(s"/tmp/graft_vasof_stage1/$key/wh") { t =>
        val cat = s"gvab_$key"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", t)
        val d = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        d.filter(col("doc_id") % 2 === 0)
          .write.format("graft").mode("append").save(s"$t/docs")
        Thread.sleep(5) // the second commit must be strictly after v1
        d.filter(col("doc_id") % 2 === 1)
          .write.format("graft").mode("append").save(s"$t/docs")
      }
      val readCat = s"gvar_$key"
      s.conf.set(s"spark.sql.catalog.$readCat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$readCat.warehouse", stage)
      s.sql(s"SELECT lang, count(*) AS docs, sum(n_chars) AS chars, " +
        s"min(doc_id) AS min_id, max(doc_id) AS max_id " +
        s"FROM $readCat.docs VERSION AS OF 1 GROUP BY lang ORDER BY lang")
    },

    "q_asof_snapshot" -> { (s, dir) =>
      // SNAPSHOT read in the correctness gate: documents staged as two
      // commits (even doc_ids, then odd), the first commit's manifest time
      // recorded in a marker; reading `.option("asof", t1)` must see
      // EXACTLY the first commit — which the oracle expresses as
      // `WHERE doc_id % 2 = 0` over the raw table. Proves the manifest
      // history pins the file set end to end (scan, filter, aggregate).
      val stage = stagedOnce(
          s"/tmp/graft_asof_stage2/${stageKey(s, dir, "documents")}/documents") { t =>
        val d = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        d.filter(col("doc_id") % 2 === 0)
          .write.format("graft").mode("append").save(t)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sessionState.newHadoopConf())
        val t1 = graft.spark.GraftManifest
          .list(fs, new org.apache.hadoop.fs.Path(t))
          .map(graft.spark.GraftManifest.nameT).max
        Thread.sleep(5) // the second commit must be strictly after t1
        d.filter(col("doc_id") % 2 === 1)
          .write.format("graft").mode("append").save(t)
        // state rides INSIDE the staged dir, published with the same rename
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_ASOF_T1"), t1.toString)
      }
      val t1 = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_ASOF_T1")).trim
      s.read.format("graft").option("asof", t1).load(stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    },

    "q_asof_dv_snapshot" -> { (s, dir) =>
      // SNAPSHOT-CONSISTENT DELETION VECTORS in the gate: two commits
      // (even doc_ids at t1, then odd), then a VERSIONED merge-on-read
      // delete (takedown = false) of doc_id % 10 = 0 — all inside the
      // first commit. The PINNED read at t1 must reproduce the dataset as
      // of t1 (the deleted rows still visible: the mask generation
      // published after the pin), while the CURRENT read applies the mask.
      // Both views ride one result under a 'view' tag so the oracle checks
      // them in a single hash comparison.
      val stage = stagedOnce(
          s"/tmp/graft_asofdv_stage1/${stageKey(s, dir, "documents")}/documents") { t =>
        val d = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        d.filter(col("doc_id") % 2 === 0)
          .write.format("graft").mode("append").save(t)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sessionState.newHadoopConf())
        val t1 = graft.spark.GraftManifest
          .list(fs, new org.apache.hadoop.fs.Path(t))
          .map(graft.spark.GraftManifest.nameT).max
        Thread.sleep(5) // the second commit must be strictly after t1
        d.filter(col("doc_id") % 2 === 1)
          .write.format("graft").mode("append").save(t)
        Thread.sleep(5) // ...and the mask strictly after the pin
        graft.spark.GraftMaintenance.deleteWhereDv(s, t,
          col("doc_id") % 10 === 0, takedown = false)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_ASOF_T1"), t1.toString)
      }
      val t1 = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_ASOF_T1")).trim
      def agg(df: DataFrame, view: String): DataFrame =
        df.groupBy(col("lang"))
          .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
          .select(lit(view).as("view"), col("lang"), col("docs"),
            col("chars"), col("min_id"), col("max_id"))
      agg(s.read.format("graft").option("asof", t1).load(stage), "pinned")
        .union(agg(s.read.format("graft").load(stage), "current"))
        .orderBy(col("view"), col("lang"))
    },

    "q_map_pruning" -> { (s, dir) =>
      // map-ELEMENT pushdown in the headline gate: documents staged with a
      // single-entry map(lang -> lang), laid out sorted by lang, so the
      // meta['en'] = 'en' probe prunes page groups via BOTH the map KEY
      // leaf (pages whose keys exclude 'en') and the VALUE leaf —
      // GraftElementPushdown compiles the GetMapValue equality into
      // element-leaf zone-map predicates (null-safe in every mode, so the
      // pruning stays on under ANSI; ZoneMapSpec asserts the page skips).
      // The pruned scan + residual filter must match DuckDB exactly.
      val fmt = sys.props.getOrElse("graft.tables.format",
        sys.env.getOrElse("GRAFT_TABLES_FORMAT", "graft"))
      def staged(root: String)(write: (DataFrame, String) => Unit): String =
        stagedOnce(s"/tmp/$root/${stageKey(s, dir, "documents")}/documents") { t =>
          write(Tables.parquet(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars"),
              map(col("lang"), col("lang")).as("meta"))
            .orderBy(col("lang")), t)
        }
      val src = if (fmt == "parquet")
        s.read.parquet(staged("graft_map_stage2_pq")(
          (df, p) => df.write.mode("overwrite").parquet(p)))
      else s.read.format("graft").load(staged("graft_map_stage2")(
        (df, p) => df.write.format("graft").mode("overwrite").save(p)))
      src.filter(col("meta").getItem("en") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .orderBy(col("source"))
    },

    "q_ndv_footer" -> { (s, dir) =>
      // ANALYZE from METADATA ONLY: documents staged once with footer KMV
      // ndv synopses (format v004, .option("ndvsketch", ...)), then the
      // per-column distinct-count estimates are answered by GraftNdv from
      // footer tail-reads alone — zero data pages, O(files) not O(rows).
      // Multi-file staging exercises the associative sketch merge. The
      // synopsis hash is the portable md5-nibble fold, so the oracle
      // recomputes the IDENTICAL sketch from the raw rows in SQL and the
      // estimates compare bit-for-bit — estimator math included (doc_id has
      // ~2x k distinct values, so the (k-1)/kth branch is non-vacuous;
      // lang/source stay on the exact small-set branch).
      val stage = stagedOnce(
          s"/tmp/graft_ndv_stage2/${stageKey(s, dir, "documents")}/documents") { t =>
        Tables.parquet(s, dir, "documents")
          .repartition(3)
          .write.format("graft")
          .option("ndvsketch", "doc_id,lang,source")
          .mode("overwrite").save(t)
      }
      val stats = graft.spark.GraftNdv.estimate(s, stage, Seq("doc_id", "lang", "source"))
      import s.implicits._
      stats.map(st => (st.column, st.k, st.nHashes.toLong, st.kth, st.estimate))
        .toDF("col_name", "k", "n_hashes", "kth_hash", "estimate")
        .orderBy(col("col_name"))
    },

    "q_sql_ndv" -> { (s, dir) =>
      // the graft_ndv TABLE FUNCTION: the same footer-synopsis estimate as
      // q_ndv_footer (shared staging), reached through pure SQL — the
      // oracle recomputes the identical portable KMV sketch from raw rows,
      // so the TVF's output is checked bit-for-bit, estimator math included.
      val stage = stagedOnce(
          s"/tmp/graft_ndv_stage2/${stageKey(s, dir, "documents")}/documents") { t =>
        Tables.parquet(s, dir, "documents")
          .repartition(3)
          .write.format("graft")
          .option("ndvsketch", "doc_id,lang,source")
          .mode("overwrite").save(t)
      }
      graft.spark.GraftExtensions.ensure(s)
      s.sql(s"SELECT * FROM graft_ndv('$stage', 'doc_id', 'lang', 'source') " +
        "ORDER BY col_name")
    },

    "q_sql_pages" -> { (s, dir) =>
      // the graft_pages TABLE FUNCTION: per-page physical layout
      // introspection (GraftStat as SQL). The oracle can't know codecs,
      // but it CAN know what the pages must add up to — per-column value
      // slots equal the row count and per-column null_count equals the
      // data's nulls, so aggregating the TVF against DuckDB checks that
      // the page walk reads real layout, not plausible numbers.
      val stage = stagedOnce(
          s"/tmp/graft_pages_stage1/${stageKey(s, dir, "documents")}/documents") { t =>
        Tables.parquet(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, lit(null).cast("string"))
              .otherwise(col("source")).as("src"))
          .repartition(3)
          .write.format("graft").option("pagesize", "256")
          .mode("overwrite").save(t)
      }
      graft.spark.GraftExtensions.ensure(s)
      s.sql(s"""SELECT column AS col_name,
        CAST(sum(num_values) AS BIGINT) AS vals,
        CAST(sum(null_count) AS BIGINT) AS nulls
        FROM graft_pages('$stage') GROUP BY column ORDER BY col_name""")
    },

    "t_inverted_index" -> { (s, dir) =>
      // inverted token->postings index MATERIALIZED INTO THE STORAGE TIER,
      // then searched through it — the corpus-search shape a 100 TB text
      // pipeline runs (containment queries without rescanning text). Build
      // (once per source fingerprint): distinct (token, doc) pairs ->
      // per-token posting list (doc ids sorted in-array) + document
      // frequency, written as a graft table SORTED BY TOKEN, so the search
      // predicate prunes to the handful of pages whose zone-map [min,max]
      // token ranges cover the probes. Search: the 3 highest-df tokens
      // (deterministic tie-break) as an AND-query — IN-list filter pushed
      // into the sorted scan, postings exploded, docs holding all 3 terms
      // returned. The probe collect is 3 rows by construction. At scale the
      // index build is one shuffle on the token key; a search never touches
      // the corpus, only O(probe df) posting rows.
      val stage = stagedOnce(
          s"/tmp/graft_invidx_stage2/${stageKey(s, dir, "documents")}/index") { t =>
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("df"), sort_array(collect_list(col("doc_id"))).as("postings"))
          .repartition(4)
          .write.format("graft")
          .option("sortby", "w")
          .option("maxrowsperfile", "500")
          .mode("overwrite").save(t)
      }
      val idx = s.read.format("graft").load(stage)
      val probes = idx.orderBy(col("df").desc, col("w")).limit(3)
        .select(col("w")).collect().map(_.getString(0)).toSeq
      idx.filter(col("w").isin(probes: _*))
        .select(explode(col("postings")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_terms"))
        .filter(col("n_terms") === 3)
        .orderBy(col("doc_id"))
    },

    "q_sorted_scan" -> { (s, dir) =>
      // proves the sortby write layout pays off at read time: lineitem
      // re-laid-out sorted by l_shipdate (range-partitioned across files,
      // sorted within), so a one-month range predicate prunes nearly every
      // page via the date zone maps before any data IO (ZoneMapSpec asserts
      // >90% of page groups skipped on this exact layout). At 100 TB this
      // is the difference between scanning a month and scanning the table.
      // Bench fairness: the parquet baseline gets the SAME sorted staging
      // (orderBy then write — range-partitioned files, sorted within, so
      // parquet's row-group stats prune too); the headline ratio compares
      // format-for-format on an identical declared layout, not a layout
      // advantage
      val fmt = sys.props.getOrElse("graft.tables.format",
        sys.env.getOrElse("GRAFT_TABLES_FORMAT", "graft"))
      val src = if (fmt == "parquet") {
        val stage = stagedOnce(
            s"/tmp/graft_sort_stage2_pq/${stageKey(s, dir, "lineitem")}/lineitem") { t =>
          Tables.parquet(s, dir, "lineitem")
            .orderBy(col("l_shipdate"))
            .write.mode("overwrite").parquet(t)
        }
        s.read.parquet(stage)
      } else {
        val stage = stagedOnce(
            s"/tmp/graft_sort_stage2/${stageKey(s, dir, "lineitem")}/lineitem") { t =>
          Tables.parquet(s, dir, "lineitem")
            .write.format("graft").option("sortby", "l_shipdate")
            .mode("overwrite").save(t)
        }
        s.read.format("graft").load(stage)
      }
      src
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(20,4)") *
            (lit(1).cast("decimal(20,4)") - col("l_discount").cast("decimal(20,4)")))
            .cast("double").as("revenue"),
          countDistinct(col("l_orderkey")).as("orders"))
    },

    "q_range_band_join" -> { (s, dir) =>
      // attribution RANGE JOIN: views within the 2-hour window before each
      // purchase of the same user. Spark plans the naive theta form as a
      // BroadcastNestedLoopJoin — quadratic at scale; the banded form
      // explodes each purchase into its (<= 2) covering 2-hour buckets and
      // EQUI-joins on (user_id, bucket) before the exact range filter, so
      // the physical plan is an ordinary shuffle hash join whose fan-out is
      // bounded by the band width. The standard interval-join scale shape.
      val bucketUs = 2L * 3600 * 1000000
      val ev = Tables.load(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("vus"), col("value").as("vval"))
        .withColumn("bucket", expr(s"vus div $bucketUs"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts")).as("pus"))
        .withColumn("bucket", explode(expr(
          s"sequence((pus - $bucketUs) div $bucketUs, (pus - 1) div $bucketUs)")))
      purchases.join(views, Seq("user_id", "bucket"))
        .filter(col("vus") >= col("pus") - bucketUs && col("vus") < col("pus"))
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_views"),
          sum(col("vval").cast("decimal(20,4)")).cast("double").as("view_value"))
        .orderBy(col("purchase_id"))
    },

    "q_json_extract" -> { (s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },

    "q_cube_status_priority" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    "q_grouping_sets" -> { (s, dir) =>
      // ARBITRARY grouping sets (not the cube/rollup specials): exactly
      // three aggregation grains in one pass — (status, priority),
      // (status), and grand total — the report shape where cube would
      // fabricate the unwanted (priority)-only grain. SQL surface: the
      // DataFrame API has no grouping-sets verb, so this IS the
      // spark.sql path over the registered graft table.
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(1) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    },

    "q_ntile_quartiles" -> { (s, dir) =>
      // Exact global ntile WITHOUT the single-task global window: rows are
      // range-bucketed by a deterministic function of the sort key (bounds
      // from the footer-only min/max — no sampling, so bucket assignment is
      // reproducible across jobs), per-bucket counts give each bucket's
      // global rank offset (32-row driver-side window), and row_number
      // inside each bucket + offset reconstructs the exact global rank.
      // Identical output to ntile(4) OVER (ORDER BY ...), but every stage is
      // partition-parallel — the 100 TB-safe shape of a global rank.
      val o = Tables.load(s, dir, "orders")
      val mm = o.agg(min(col("o_totalprice")), max(col("o_totalprice"))).head()
      val lo = mm.getDouble(0)
      val hi = mm.getDouble(1)
      val buckets = 32
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      val pid = least(greatest(
        floor((col("o_totalprice") - lit(lo)) / lit(span) * buckets), lit(0.0)),
        lit((buckets - 1).toDouble)).cast("int")
      val base = o.select(col("o_totalprice"), col("o_orderkey")).withColumn("pid", pid)
      val woff = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
      val wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val offsets = base.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
        .withColumn("offset", coalesce(sum(col("cnt")).over(woff), lit(0L)))
        .withColumn("total", sum(col("cnt")).over(wtot))
        .select(col("pid"), col("offset"), col("total"))
      val wrank = Window.partitionBy(col("pid")).orderBy(col("o_totalprice"), col("o_orderkey"))
      base.join(broadcast(offsets), Seq("pid"))
        .withColumn("rnk", row_number().over(wrank).cast("long") + col("offset"))
        .withColumn("quartile", expr(
          """CASE WHEN rnk <= (total % 4) * (total DIV 4 + 1)
             THEN CAST((rnk - 1) DIV (total DIV 4 + 1) AS INT) + 1
             ELSE CAST(total % 4 AS INT) +
                  CAST((rnk - (total % 4) * (total DIV 4 + 1) - 1)
                       DIV greatest(total DIV 4, 1) AS INT) + 1
             END"""))
        .groupBy(col("quartile"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
        .orderBy(col("quartile"))
    },

    "q_decimal128" -> { (s, dir) =>
      // decimal(25,4) whose unscaled values exceed 64 bits: exercises the
      // i128 lane end-to-end (write, wide/block codecs, zone-map pruning on
      // the >= filter, decimal aggregation). Exact integer-derived values,
      // so Spark and DuckDB agree bit-for-bit.
      val out = "/tmp/graft_q/dec128_" + dir.replaceAll("[^a-zA-Z0-9.]+", "_")
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"),
          (col("l_orderkey").cast("decimal(25,4)") * lit(1000000000000L))
            .cast("decimal(25,4)").as("big"))
        .orderBy("l_orderkey")
        .write.format("graft").mode("overwrite").save(out)
      s.read.format("graft").load(out)
        .filter(col("big") >= lit(new java.math.BigDecimal("30000000000000000.0000")))
        .agg(count(lit(1)).as("n"),
          sum(col("big")).cast("decimal(38,4)").cast("string").as("sum_big"),
          min(col("big")).cast("string").as("min_big"),
          max(col("big")).cast("string").as("max_big"))
    },

    "q_spj_cojoin" -> { (s, dir) =>
      // STORAGE-PARTITIONED JOIN in the gate: documents and a per-lang
      // stats table, BOTH hive-partitioned on lang, joined on lang under
      // v2 bucketing — the scan reports KeyGroupedPartitioning, so the
      // join runs with no shuffle on either side (plan shape asserted in
      // StoragePartitionedJoinSpec; here the gate proves the co-located
      // plan produces oracle-exact values end to end). The bucketing conf
      // is scoped via an ISOLATED CHILD SESSION (shared SparkContext and
      // staging, own SQLConf): the returned plan stays fully LAZY — it
      // carries its session, so it plans under the flipped conf whenever
      // the caller executes it, while no other gate query ever sees the
      // flip. (This replaces an eager collect+parallelize bridge that
      // materialized the aggregate on the driver just to scope the conf.)
      val docs = stagedPartitionedDocs(s, dir)
      val stats = stagedOnce(
          s"/tmp/graft_spj_stage2/${stageKey(s, dir, "documents")}/lang_stats") { t =>
        s.read.format("graft").load(docs)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("total_chars"))
          .write.format("graft").option("partitionby", "lang")
          .mode("overwrite").save(t)
      }
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s2.read.format("graft").load(docs)
        .join(s2.read.format("graft").load(stats), "lang")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          max(col("total_chars")).as("lang_chars"), max(col("cnt")).as("lang_docs"))
        .orderBy(col("lang"))
    },

    "q_incremental_scan" -> { (s, dir) =>
      // INCREMENTAL (change) read in the gate: documents staged as two
      // commits (even doc_ids, then odd), the first commit's manifest time
      // recorded; reading `.option("since", t1)` must see EXACTLY the
      // second commit — the "process what arrived since my last run" scan
      // a daily 100 TB ingest pipeline runs off manifest history, priced
      // at a manifest listing instead of a full-table diff. Oracle:
      // `WHERE doc_id % 2 = 1` over the raw table.
      val stage = stagedOnce(
          s"/tmp/graft_since_stage2/${stageKey(s, dir, "documents")}/documents") { t =>
        val d = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        d.filter(col("doc_id") % 2 === 0)
          .write.format("graft").mode("append").save(t)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sessionState.newHadoopConf())
        val t1 = graft.spark.GraftManifest
          .list(fs, new org.apache.hadoop.fs.Path(t))
          .map(graft.spark.GraftManifest.nameT).max
        Thread.sleep(5) // the second commit must be strictly after t1
        d.filter(col("doc_id") % 2 === 1)
          .write.format("graft").mode("append").save(t)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_SINCE_T1"), t1.toString)
      }
      val t1 = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_SINCE_T1")).trim
      s.read.format("graft").option("since", t1).load(stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    },

    "q_strawboat_interop" -> { (s, dir) =>
      // BIDIRECTIONAL reference interop in the gate: a slice of orders read
      // from graft storage is EXPORTED as reference-layout (`ARROW2`)
      // strawboat files and re-IMPORTED; the result must match DuckDB over
      // the raw parquet exactly — every value survives the foreign byte
      // layout (hybrid-RLE validity, two-block strings, i128 micros
      // timestamps, lz4 blocks) in both directions.
      val stage = s"/tmp/graft_interop_stage/${stageKey(s, dir, "orders")}/orders_str"
      val slice = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      graft.spark.GraftExport.write(slice, stage)
      graft.spark.GraftImport.read(s, stage).orderBy(col("o_orderkey"))
    },

    "q_cdc_changes" -> { (s, dir) =>
      // staging shared with q_sql_cdc_changes (cdcChangesStage)
      // CHANGE-DATA FEED in the gate: documents staged as a base commit
      // (doc_id % 5 != 0) and an in-window commit (doc_id % 5 = 0), both
      // partitioned by a `victim` flag (doc_id % 10 = 1); then a
      // changelog-enabled deleteWhere purges the victims. Reading
      // GraftCdc.changes over the window after the base commit must see
      // EXACTLY the second commit's rows as inserts (surgical manifest
      // expiry keeps their history — no victim is in that commit) and
      // every purged victim as a delete (durable in `_graft_changes`).
      // This is the takedown-propagation read a derived corpus runs;
      // priced at a manifest listing + the changed files only.
      val (stage, t1) = cdcChangesStage(s, dir)
      graft.spark.GraftCdc.changes(s, stage, t1, Long.MaxValue)
        .withColumnRenamed(graft.spark.GraftCdc.ChangeTypeCol, "change_type")
        .groupBy(col("change_type"), col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .orderBy(col("change_type"), col("lang"))
    },

    "q_sql_cdc_changes" -> { (s, dir) =>
      // the SAME staged takedown feed as q_cdc_changes, consumed through
      // the pure-SQL surface: the graft_changes TABLE FUNCTION expands at
      // analysis time into the windowed scans, so a SQL-only consumer
      // gets the identical event stream (and the identical oracle)
      val (stage, t1) = cdcChangesStage(s, dir)
      graft.spark.GraftExtensions.ensure(s)
      s.sql(
        s"""SELECT ${graft.spark.GraftCdc.ChangeTypeCol} AS change_type,
           |  lang, count(*) AS docs, sum(n_chars) AS chars
           |FROM graft_changes('$stage', ${t1}L, ${Long.MaxValue}L)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    },

    "q_cdc_update_feed" -> { (s, dir) =>
      // UPDATE events through the change feed: documents staged as a base
      // commit (doc_id % 5 != 0), an in-window commit (doc_id % 5 = 0),
      // then a changelog-enabled updateWhere re-values doc_id % 7 = 3
      // ACROSS both commits. Reading the window after the base commit
      // must see (a) the in-window commit as inserts AT ITS CURRENT
      // (post-update) content — the rewrite's replacement manifest keeps
      // the commit time, so updated in-window rows still arrive exactly
      // once — and (b) every updated row's PRE-IMAGE typed
      // 'change_preimage' (not 'delete': the key still exists), off the
      // feed file's own -upd marker. This is the event stream a derived
      // corpus reconciles from; base-commit post-update rows are
      // correctly OUTSIDE the window (their commit predates it).
      val stage = stagedOnce(
          s"/tmp/graft_cdc_updstage/${stageKey(s, dir, "documents")}/documents") { t =>
        val d = Tables.parquet(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        d.filter(col("doc_id") % 5 =!= 0)
          .write.format("graft").mode("append").save(t)
        val fs = new org.apache.hadoop.fs.Path(t)
          .getFileSystem(s.sessionState.newHadoopConf())
        val t1 = graft.spark.GraftManifest
          .list(fs, new org.apache.hadoop.fs.Path(t))
          .map(graft.spark.GraftManifest.nameT).max
        Thread.sleep(5) // the in-window commit must be strictly after t1
        d.filter(col("doc_id") % 5 === 0)
          .write.format("graft").mode("append").save(t)
        graft.spark.GraftMaintenance.updateWhere(s, t,
          col("doc_id") % 7 === 3,
          Map("n_chars" -> (col("n_chars") + lit(1000000L))),
          changelog = true)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "_GRAFT_CDC_T1"), t1.toString)
      }
      val t1 = java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, "_GRAFT_CDC_T1")).trim.toLong
      graft.spark.GraftCdc.changes(s, stage, t1, Long.MaxValue)
        .withColumnRenamed(graft.spark.GraftCdc.ChangeTypeCol, "change_type")
        .groupBy(col("change_type"), col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .orderBy(col("change_type"), col("lang"))
    },

    "q_scalar_funcs" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 1000 === 0)
        .select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 3)).as("pri3"),
          length(col("o_orderpriority")).as("pri_len"),
          concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          floor(col("o_totalprice") / 1000).cast("long").as("price_k"),
          abs(col("o_custkey") - 1000).as("absdiff"),
          pmod(col("o_orderkey"), lit(7)).as("m7"))
        .orderBy(col("o_orderkey"))
    })

  /** One column's block of the q_ndv_footer oracle: the identical KMV
    * (k=256, portable md5-nibble fold over the value's VARCHAR rendering)
    * computed from the raw rows.
    */
  private def ndvOracleBlock(colName: String): String =
    s"""SELECT '$colName' AS col_name, 256 AS k,
       |  CAST(LEAST(nh, 256) AS BIGINT) AS n_hashes,
       |  CAST(CASE WHEN nh >= 256 THEN kth ELSE -1 END AS BIGINT) AS kth_hash,
       |  CASE WHEN nh >= 256 THEN 255.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE)
       |       ELSE CAST(nh AS DOUBLE) END AS estimate
       |FROM (SELECT count(*) AS nh,
       |        (SELECT h FROM (SELECT DISTINCT
       |           list_reduce(list_transform(generate_series(1, 15),
       |             i -> CAST(strpos('0123456789abcdef',
       |                    substr(md5(CAST($colName AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
       |             (a, b) -> a * 16 + b) AS h FROM documents)
       |         ORDER BY h LIMIT 1 OFFSET 255) AS kth
       |      FROM (SELECT DISTINCT
       |           list_reduce(list_transform(generate_series(1, 15),
       |             i -> CAST(strpos('0123456789abcdef',
       |                    substr(md5(CAST($colName AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
       |             (a, b) -> a * 16 + b) AS h FROM documents))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_ndv_footer" ->
      (Seq("doc_id", "lang", "source").map(ndvOracleBlock)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
    "q_sql_ndv" ->
      (Seq("doc_id", "lang", "source").map(ndvOracleBlock)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
    "q_sql_pages" ->
      """SELECT 'doc_id' AS col_name, count(*) AS vals, CAST(0 AS BIGINT) AS nulls
        |FROM documents
        |UNION ALL
        |SELECT 'src', count(*),
        |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |ORDER BY col_name""".stripMargin,
    "t_inverted_index" ->
      """WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        |             FROM documents),
        |df AS (SELECT w, count(*) AS df FROM tok GROUP BY 1),
        |probes AS (SELECT w FROM df ORDER BY df DESC, w LIMIT 3)
        |SELECT t.doc_id, count(*) AS n_terms
        |FROM tok t JOIN probes p ON p.w = t.w
        |GROUP BY 1 HAVING count(*) = 3 ORDER BY doc_id""".stripMargin,
    "q_spj_cojoin" ->
      """SELECT d.lang, count(*) AS docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS chars,
        |  CAST(max(s.total_chars) AS BIGINT) AS lang_chars,
        |  max(s.cnt) AS lang_docs
        |FROM documents d
        |JOIN (SELECT lang, count(*) AS cnt,
        |        CAST(sum(n_chars) AS BIGINT) AS total_chars
        |      FROM documents GROUP BY lang) s ON d.lang = s.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q_cdc_changes" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS change_type, lang, count(*) AS docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents WHERE doc_id % 5 = 0 GROUP BY lang
        |  UNION ALL
        |  SELECT 'delete' AS change_type, lang, count(*) AS docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents WHERE doc_id % 10 = 1 GROUP BY lang
        |) ORDER BY change_type, lang""".stripMargin,
    "q_sql_cdc_changes" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS change_type, lang, count(*) AS docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents WHERE doc_id % 5 = 0 GROUP BY lang
        |  UNION ALL
        |  SELECT 'delete' AS change_type, lang, count(*) AS docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents WHERE doc_id % 10 = 1 GROUP BY lang
        |) ORDER BY change_type, lang""".stripMargin,
    "q_cdc_update_feed" ->
      """SELECT * FROM (
        |  SELECT 'change_preimage' AS change_type, lang, count(*) AS docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents WHERE doc_id % 7 = 3 GROUP BY lang
        |  UNION ALL
        |  SELECT 'insert' AS change_type, lang, count(*) AS docs,
        |    CAST(sum(n_chars + CASE WHEN doc_id % 7 = 3 THEN 1000000 ELSE 0 END) AS BIGINT) AS chars
        |  FROM documents WHERE doc_id % 5 = 0 GROUP BY lang
        |) ORDER BY change_type, lang""".stripMargin,
    "q_incremental_scan" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 2 = 1
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_strawboat_interop" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "q_delete_where" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT source) AS sources
        |FROM documents WHERE doc_id % 7 <> 3
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_update_where" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(CASE WHEN doc_id % 7 = 3 THEN n_chars % 100 ELSE n_chars END) AS BIGINT) AS chars,
        |  count(DISTINCT CASE WHEN doc_id % 7 = 3 THEN 'redacted' ELSE source END) AS sources
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_update_dv" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(CASE WHEN doc_id % 7 = 3 THEN n_chars % 100 ELSE n_chars END) AS BIGINT) AS chars,
        |  count(DISTINCT CASE WHEN doc_id % 7 = 3 THEN 'redacted' ELSE source END) AS sources
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_type_widening" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars + 10000000000 ELSE n_chars END) AS BIGINT) AS chars,
        |  CAST(min(CASE WHEN doc_id % 2 = 1 THEN n_chars + 10000000000 ELSE n_chars END) AS BIGINT) AS min_chars,
        |  CAST(max(CASE WHEN doc_id % 2 = 1 THEN n_chars + 10000000000 ELSE n_chars END) AS BIGINT) AS max_chars
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_delete_vectors" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT source) AS sources
        |FROM documents WHERE doc_id % 11 <> 5
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_dynamic_overwrite" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars % 97 ELSE n_chars END) AS BIGINT) AS chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_replace_where" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(CASE WHEN doc_id BETWEEN 100 AND 299 THEN n_chars % 53 ELSE n_chars END) AS BIGINT) AS chars,
        |  count(DISTINCT CASE WHEN doc_id BETWEEN 100 AND 299 THEN 'reingested' ELSE source END) AS sources
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_delete" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT source) AS sources
        |FROM documents
        |WHERE NOT ((lang = 'en' AND doc_id < 300) OR n_chars >= 900)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_schema_evolution" ->
      // rows written before the ALTER (even doc_id) have NULL quality;
      // rows inserted after it (odd doc_id) carry n_chars % 10
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars % 10 END) AS BIGINT) AS q_sum,
        |  count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS with_quality
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_schema_default" ->
      // even doc_id rows: inserted omitting grade -> creation-time
      // DEFAULT 7 landed at write; tier added later with DEFAULT 3
      // served at fill time. Odd rows carry both explicitly.
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 7 ELSE doc_id % 3 END) AS BIGINT) AS grade_sum,
        |  min(CASE WHEN doc_id % 2 = 0 THEN 7 ELSE doc_id % 3 END) AS grade_min,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE doc_id % 5 END) AS BIGINT) AS tier_sum,
        |  min(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE doc_id % 5 END) AS tier_min,
        |  count(*) AS tier_count
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_column_mapping" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(n_chars) AS min_chars, max(doc_id) AS max_id
        |FROM documents WHERE n_chars > 20
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_update" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(CASE WHEN doc_id % 9 = 4 AND n_chars > 50
        |                THEN n_chars % 97 + doc_id % 5 ELSE n_chars END) AS BIGINT) AS chars,
        |  count(DISTINCT CASE WHEN doc_id % 9 = 4 AND n_chars > 50
        |                      THEN 'redacted' ELSE source END) AS sources
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_merge" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT source) AS sources
        |FROM (
        |  SELECT lang,
        |         CASE WHEN doc_id % 11 = 7 THEN n_chars % 50 + 7 ELSE n_chars END AS n_chars,
        |         CASE WHEN doc_id % 11 = 7 THEN 'merged' ELSE source END AS source
        |  FROM documents
        |  UNION ALL
        |  SELECT lang, doc_id % 31 AS n_chars, 'inserted' AS source
        |  FROM documents WHERE doc_id % 13 = 2
        |) u
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_merge_cdc" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT source) AS sources
        |FROM (
        |  SELECT lang,
        |         CASE WHEN doc_id % 11 = 7 THEN n_chars % 50 + 7 ELSE n_chars END AS n_chars,
        |         CASE WHEN doc_id % 11 = 7 THEN 'merged' ELSE source END AS source
        |  FROM documents WHERE doc_id % 17 <> 5
        |  UNION ALL
        |  SELECT lang, doc_id % 31 AS n_chars, 'inserted' AS source
        |  FROM documents WHERE doc_id % 13 = 2
        |) u
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_merge_dv" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT source) AS sources,
        |  0 AS rewritten_preexisting
        |FROM (
        |  SELECT lang,
        |         CASE WHEN doc_id % 11 = 7 THEN n_chars % 50 + 7 ELSE n_chars END AS n_chars,
        |         CASE WHEN doc_id % 11 = 7 THEN 'merged' ELSE source END AS source
        |  FROM documents WHERE doc_id % 17 <> 5
        |  UNION ALL
        |  SELECT lang, doc_id % 31 AS n_chars, 'inserted' AS source
        |  FROM documents WHERE doc_id % 13 = 2
        |) u
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_analyze" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  1 AS analyzed
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_compact" ->
      """SELECT count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        |  count(DISTINCT o_custkey) AS custs,
        |  1 AS compacted
        |FROM orders""".stripMargin,
    "q_sql_restore" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  1 AS restored
        |FROM documents WHERE doc_id % 2 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_replace" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars * 2) AS BIGINT) AS n2sum,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 2 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_history" ->
      """SELECT CAST(1 AS BIGINT) AS version, CAST(1 AS BIGINT) AS files,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS n_rows
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(1 AS BIGINT),
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 1)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(1 AS BIGINT),
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 2)
        |ORDER BY version""".stripMargin,
    "q_sql_cdc_apply" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 7 <> 3
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_drop_partition" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  (SELECT count(DISTINCT lang) FROM documents WHERE lang <> 'de')
        |    AS parts_left
        |FROM documents WHERE lang <> 'de'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_compact_partition" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  1 AS scoped_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_constraints" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  1 AS insert_rejected, 1 AS update_rejected
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_dv" ->
      """SELECT 'versioned' AS posture, count(*) AS masked
        |FROM documents WHERE doc_id % 9 = 2""".stripMargin,
    "q_sorted_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice, o_orderkey LIMIT 25""".stripMargin,
    "q_vacuum" ->
      """SELECT count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        |  count(DISTINCT o_custkey) AS custs,
        |  0 AS leftover_junk
        |FROM orders""".stripMargin,
    "q_zorder_scan" ->
      """SELECT count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        |  count(DISTINCT o_custkey) AS custs
        |FROM orders WHERE o_custkey <= 200 AND o_totalprice >= 50000.0""".stripMargin,
    "q_version_asof" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 2 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_asof_snapshot" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 2 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_asof_dv_snapshot" ->
      """SELECT 'pinned' AS view, lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 2 = 0
        |GROUP BY lang
        |UNION ALL
        |SELECT 'current' AS view, lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 10 <> 0
        |GROUP BY lang
        |ORDER BY view, lang""".stripMargin,
    "q_partition_agg" ->
      """SELECT lang, count(*) AS docs, count(n_chars) AS chars_count,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_map_pruning" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_array_contains" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_total
        |FROM documents WHERE list_contains(string_split(text, ' '), 'data')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_range_band_join" ->
      """SELECT p.event_id AS purchase_id, count(*) AS n_views,
        |  CAST(sum(CAST(v.value AS DECIMAL(20,4))) AS DOUBLE) AS view_value
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        | AND epoch_us(v.ts) >= epoch_us(p.ts) - 7200000000
        | AND epoch_us(v.ts) < epoch_us(p.ts)
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sorted_scan" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4)) * (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS revenue,
        |  count(DISTINCT l_orderkey) AS orders
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,
    "q_partitioned_scan" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT source) AS sources
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_partitions" ->
      """SELECT concat('lang=', lang) AS partition,
        |  count(*) AS rows, CAST(0 AS BIGINT) AS dv_masked
        |FROM documents GROUP BY lang ORDER BY 1""".stripMargin,
    "q_partition_transform" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS total,
        |  count(DISTINCT user_id) AS users
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_partition_months" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS total
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_partition_monthfield" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS users
        |FROM events
        |WHERE EXTRACT(MONTH FROM ts) = 1 AND EXTRACT(YEAR FROM ts) = 2024
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_count_minmax" ->
      """SELECT count(*) AS n,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
        |  count(l_quantity) AS n_qty,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_cube_status_priority" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_ntile_quartiles" ->
      """SELECT quartile, count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM (SELECT o_totalprice,
        |        ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
        |      FROM orders)
        |GROUP BY quartile ORDER BY quartile""".stripMargin,
    "q_decimal128" ->
      """WITH t AS (SELECT CAST(CAST(l_orderkey AS DECIMAL(25,4)) * 1000000000000 AS DECIMAL(25,4)) AS big
        |           FROM lineitem)
        |SELECT count(*) AS n,
        |  CAST(CAST(sum(big) AS DECIMAL(38,4)) AS VARCHAR) AS sum_big,
        |  CAST(min(big) AS VARCHAR) AS min_big,
        |  CAST(max(big) AS VARCHAR) AS max_big
        |FROM t WHERE big >= CAST('30000000000000000.0000' AS DECIMAL(25,4))""".stripMargin,
    "q_scalar_funcs" ->
      """SELECT o_orderkey,
        |  upper(substr(o_orderpriority, 1, 3)) AS pri3,
        |  length(o_orderpriority) AS pri_len,
        |  concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
        |  year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  day(o_orderdate) AS d, quarter(o_orderdate) AS q,
        |  CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
        |  abs(o_custkey - 1000) AS absdiff,
        |  o_orderkey % 7 AS m7
        |FROM orders WHERE o_orderkey % 1000 = 0 ORDER BY o_orderkey""".stripMargin)
}
