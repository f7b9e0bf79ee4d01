package graft.perfbench

import graft.format._

/** Workload `codec_file`: the format layers without Spark.
  *
  * Inputs: the five large tables amplified x10 from sf0.01 (sf0.1's row
  * counts) and collected into leaf vectors through Spark, whose session is
  * stopped before any graft code runs; and the seeded F2/F3 codec shapes.
  * A set-up writes every table once through GraftFileWriter, reads it back
  * and attributes its bytes with GraftStat.describe. One round writes each
  * table through GraftFileWriter into memory, reads it back with
  * readFooter + LeafReader.readAll, and round-trips every codec, forced, on
  * the shape that targets it through PageSerializer.writePage /
  * PageDeserializer.readPage. Every read-back is compared with its input.
  */
final class CodecFile(args: Args, tracer: Tracer, ops: Ops) extends Workload {
  private val factor = args.factor(10)
  private val pages = if (args.smoke) 2 else 32
  private val opts = WriteOptions()
  private var tables: Seq[Gen.Columns] = Nil
  private val cases: Seq[Gen.CodecCase] = Gen.codecCases(args.seed, pages)
  private val sink = new Sink(1 << 20)
  private var space: Space = Space.empty

  def prepare(): Unit = {
    val spark = SparkSide.session(args)
    tables =
      try SparkSide.parallel(Data.large)(t =>
        Data.columns(t, Data.amplified(spark, Data.dir(args), t, factor, args.seed)))
      finally spark.stop()
  }

  def setup(rep: Int): Unit = {
    space = tables.foldLeft(Space.empty) { (acc, t) =>
      writeFile(t)
      val in = new BytesInput(sink.buf, sink.size)
      readBack(t, in) // checked in every round
      acc.add(t.name, Space.of(in, t.leaves.map(l => (l._1, l._2))))
    }
  }

  def warmup(): Unit = {
    round()
    Space.report(args, "codec_file", space)
  }

  def inputs: String =
    Vecs.fingerprint(cases.map(_.vec) ++ tables.flatMap(_.leaves.map(_._3)))

  private def writeFile(t: Gen.Columns): Int = {
    sink.reset()
    val w = new GraftFileWriter(sink, t.schema.json, opts)
    w.start()
    w.writeChunk(t.trees, t.rows)
    w.finish()
    sink.size
  }

  private def readBack(t: Gen.Columns, in: SeekableInput): Seq[Vec] = {
    val footer = GraftFileReader.readFooter(in)
    footer.leaves.toSeq.zip(t.leaves).map { case (meta, (lane, nullable, _)) =>
      new LeafReader(in, meta, lane, nullable).readAll()
    }
  }

  def round(): Unit = {
    tables.foreach { t =>
      ops.op(s"file.${t.name}.write")(tracer.span(s"file.${t.name}.write_s", "format.file")(writeFile(t))) { n =>
        if (n > 0) None else Some("empty file")
      }
      ops.op(s"file.${t.name}.read") {
        tracer.span(s"file.${t.name}.read_s", "format.file")(readBack(t, new BytesInput(sink.buf, sink.size)))
      } { got =>
        val expect = t.leaves.map(_._3)
        val seen = if (ops.takeFault()) Vecs.corrupt(got.head) +: got.tail else got
        if (seen.length != expect.length) Some(s"${seen.length} leaves, expected ${expect.length}")
        else seen.zip(expect).zipWithIndex.collectFirst {
          case ((g, e), i) if !Vecs.same(g, e) => s"leaf $i differs from its input"
        }
      }
    }
    cases.foreach(codecRoundTrip)
  }

  private val pageBuf = new ByteBuf(1 << 20)
  private val scratch = new ByteBuf(1 << 16)

  private def codecRoundTrip(c: Gen.CodecCase): Unit = {
    val forced = opts.copy(forcedCodec = Some(Gen.codecTag(c.codec)), pageSize = 2048)
    val n = c.vec.n
    val bounds = (0 to n by 2048).toArray
    ops.op(s"codec.${c.codec}") {
      val starts = new Array[Int](bounds.length - 1)
      tracer.span(s"codec.${c.codec}.encode", "format.codec") {
        pageBuf.reset()
        var p = 0
        while (p < starts.length) {
          starts(p) = pageBuf.length
          PageSerializer.writePage(c.lane, c.vec, bounds(p), bounds(p + 1), c.nullable, forced,
            pageBuf, scratch)
          p += 1
        }
      }
      val arr = pageBuf.toArray
      val decoded = tracer.span(s"codec.${c.codec}.decode", "format.codec") {
        starts.indices.map { p =>
          PageDeserializer.readPage(c.lane, c.nullable, bounds(p + 1) - bounds(p), new ByteCursor(arr, starts(p)))
        }
      }
      (arr, starts, decoded)
    } { case (arr, starts, decoded) =>
      val codecs = starts.indices.map { p =>
        val cur = new ByteCursor(arr, starts(p))
        if (c.nullable && cur.getIntLE() > 0) cur.skip((bounds(p + 1) - bounds(p) + 7) >>> 3)
        GraftStat.parseBody(cur, c.lane, bounds(p + 1) - bounds(p)).codec
      }.distinct
      if (codecs != Seq(Gen.codecTag(c.codec))) Some(s"pages used codecs ${codecs.mkString(",")}")
      else if (!Vecs.same(VecConcat.concat(c.lane, decoded), c.vec)) Some("decoded values differ")
      else None
    }
  }

  def bytesPerRow: Double = space.fileBytes.toDouble / tables.map(_.rows).sum

  def layerMetrics(rounds: Seq[Int]): Map[String, Double] = {
    val raw = tables.map(_.rawBytes).sum.toDouble
    val writeS = Stats.median(rounds.map(r =>
      tables.map(t => tracer.perRound(s"file.${t.name}.write_s", Seq(r))).sum))
    val readS = Stats.median(rounds.map(r =>
      tables.map(t => tracer.perRound(s"file.${t.name}.read_s", Seq(r))).sum))
    val codecRates = cases.flatMap { c =>
      val mb = Vecs.rawBytes(c.vec) / 1e6
      Seq(s"codec.${c.codec}.encode_mb_s" -> mb / tracer.perRound(s"codec.${c.codec}.encode", rounds),
        s"codec.${c.codec}.decode_mb_s" -> mb / tracer.perRound(s"codec.${c.codec}.decode", rounds))
    }
    space.metrics ++ codecRates ++ tables.map(t => s"file.${t.name}.bytes" -> space.tableBytes(t.name).toDouble) ++
      Map("file.write_mb_s" -> raw / 1e6 / writeS, "file.read_mb_s" -> raw / 1e6 / readS,
        "file.bytes_per_raw_byte" -> space.fileBytes / raw)
  }

  def close(): Unit = ()
}

/** A reusable in-memory file image. */
final class Sink(initial: Int) extends java.io.OutputStream {
  var buf = new Array[Byte](initial)
  var size = 0
  def reset(): Unit = size = 0
  private def ensure(extra: Int): Unit =
    if (size + extra > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, size + extra))
  override def write(b: Int): Unit = { ensure(1); buf(size) = b.toByte; size += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len); System.arraycopy(b, off, buf, size, len); size += len
  }
}

/** Space attribution: pages and bytes per codec the adaptive chooser
  * picked, per table, from GraftStat.describe over written files.
  */
final case class Space(perTable: Map[String, Map[String, (Long, Long)]], tableBytes: Map[String, Long]) {
  def fileBytes: Long = tableBytes.values.sum
  def add(table: String, s: (Map[String, (Long, Long)], Long)): Space =
    Space(perTable.updated(table, merge(perTable.getOrElse(table, Map.empty), s._1)),
      tableBytes.updated(table, tableBytes.getOrElse(table, 0L) + s._2))
  private def merge(a: Map[String, (Long, Long)], b: Map[String, (Long, Long)]) =
    (a.keySet ++ b.keySet).map { k =>
      val (p1, b1) = a.getOrElse(k, (0L, 0L)); val (p2, b2) = b.getOrElse(k, (0L, 0L))
      k -> (p1 + p2, b1 + b2)
    }.toMap
  def metrics: Map[String, Double] = {
    val total = perTable.values.foldLeft(Map.empty[String, (Long, Long)])(merge)
    Gen.codecNames.flatMap { c =>
      val (p, b) = total.getOrElse(c, (0L, 0L))
      Seq(s"codec.$c.pages" -> p.toDouble, s"codec.$c.bytes" -> b.toDouble)
    }.toMap
  }
}

object Space {
  val empty: Space = Space(Map.empty, Map.empty)

  private val names: Map[Byte, String] = Gen.codecNames.map(n => Gen.codecTag(n) -> n).toMap

  /** Per-codec (pages, page bytes) of one file, and the file's length. */
  def of(in: SeekableInput, specs: Seq[(Int, Boolean)]): (Map[String, (Long, Long)], Long) = {
    val footer = GraftFileReader.readFooter(in)
    val leaves = GraftStat.describe(in, footer, specs.toArray)
    val pages = leaves.zip(footer.leaves).flatMap { case (info, meta) =>
      info.pages.zip(meta.pages).map { case (p, m) => names.getOrElse(p.codec, s"tag${p.codec}") -> m.length.toLong }
    }
    (pages.groupMapReduce(_._1)(p => (1L, p._2)) { case ((a, b), (c, d)) => (a + c, b + d) }, in.length)
  }

  /** Per-table breakdown written beside the spans: which codecs the
    * chooser picked and how many bytes each holds, next to the table's
    * parquet size where the workload wrote one. */
  def report(args: Args, workload: String, s: Space, parquet: Map[String, Long] = Map.empty): Unit = {
    val body = s.perTable.toSeq.sortBy(_._1).map { case (t, m) =>
      t -> Json.obj(Seq("file_bytes" -> s.tableBytes(t).toString) ++
        parquet.get(t).map(b => "parquet_bytes" -> b.toString) ++ m.toSeq.sortBy(_._1).map {
          case (c, (p, b)) => c -> s"""{"pages": $p, "bytes": $b}"""
        })
    }
    val f = new java.io.File(args.work, s"space-$workload-${args.seed}.json")
    java.nio.file.Files.write(f.toPath, Json.obj(body).getBytes("UTF-8"))
  }
}
