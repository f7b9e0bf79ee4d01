package graft.format

/** Dispatch point for the non-block codecs, per lane family:
  * integers: OneValue/Rle/Dict/Freq/Bitpack/DeltaBitpack;
  * floats:   Patas + the integer family over raw bit patterns
  *           (the reference's OrderedFloat trick, double/mod.rs);
  * binary:   OneValue/Dict/Freq (over the page interned once by
  *           [[PageSerializer.writePage]], see [[BinaryCodecs.tryWrite]]);
  * booleans: OneValue/Rle.
  */
object SpecialCodecs {

  /** Attempt to encode rows [from,until) of a non-binary lane with a special
    * codec. Returns true if a codec-framed body was written to `out`.
    */
  def tryWrite(lane: Int, vec: Vec, from: Int, until: Int, opts: WriteOptions,
      out: ByteBuf, scratch: ByteBuf): Boolean = {
    val n = until - from
    if (n == 0) return false
    lane match {
      case Lane.I8 | Lane.I16 | Lane.I32 | Lane.I64 =>
        val eff = IntCodecs.effectiveValues(vec, from, until, lane)
        IntCodecs.tryWrite(eff, n, Lane.width(lane), opts, 0L, out)

      case Lane.F32 | Lane.F64 =>
        val width = Lane.width(lane)
        val eff = IntCodecs.effectiveValues(vec, from, until, lane)
        opts.forcedCodec match {
          case Some(Codec.Patas) =>
            FloatCodecs.encode(eff, n, width, out)
            true
          case Some(_) =>
            IntCodecs.tryWrite(eff, n, width, opts, 0L, out)
          case None =>
            if (!opts.adaptive) false
            else {
              val s = IntCodecs.computeStats(eff)
              val (intCodec, intSize) = IntCodecs.chooseCodec(s, n, width, 0L)
              // Patas spends at least one header byte per value, so it
              // cannot beat an integer codec of at most n bytes: skipping
              // the estimate there cannot change the choice below
              val patasSize =
                if (intSize <= n) Long.MaxValue else FloatCodecs.estimateSize(eff, n, width)
              val plain = n.toLong * width
              // same sampled block-codec cross-check as the int lanes: step
              // aside when the measured block estimate beats both candidates
              val blockEst =
                if (opts.sampledChooser) IntCodecs.blockSampledSize(eff, n, width, opts)
                else Long.MaxValue
              if (patasSize < intSize && patasSize <= blockEst &&
                  plain.toDouble / patasSize >= opts.compressRatio) {
                FloatCodecs.encode(eff, n, width, out)
                true
              } else if (intCodec >= 0 && intSize <= blockEst &&
                  plain.toDouble / intSize >= opts.compressRatio) {
                IntCodecs.encode(intCodec, eff, n, width, s, opts, 0L, out)
                true
              } else false
            }
        }

      case Lane.Bool =>
        BoolCodecs.tryWrite(vec.asInstanceOf[BoolVec], from, until, opts, out)

      case Lane.I128 =>
        // values that all sign-extend from 64 bits (the common case for
        // decimal 19-38 data) delegate to the long codec family via a
        // nested I64 value-body frame; wider values fall to block codecs
        // over the 16-byte plain layout
        val dv = vec.asInstanceOf[DecimalVec]
        var fits = true
        var i = from
        while (fits && i < until) { if (dv.hi(i) != (dv.lo(i) >> 63)) fits = false; i += 1 }
        if (!fits) false
        else {
          val inner = LongVec(dv.n, dv.nulls, dv.lo)
          out.putByte(Codec.Wide)
          val lenPos = out.reserve(8)
          val start = out.length
          val wrote = tryWrite(Lane.I64, inner, from, until, opts, out, scratch)
          if (!wrote) {
            scratch.reset()
            PageSerializer.plainEncode(Lane.I64, inner, from, until, scratch)
            val bc = opts.forcedCodec match {
              case Some(c) if Codec.isCommon(c) => c
              case _ => opts.defaultCodec
            }
            PageSerializer.writeBlockBody(bc, scratch, out, opts.zstdLevel, opts.lz4hc)
          }
          out.patchIntLE(lenPos, out.length - start)
          out.patchIntLE(lenPos + 4, 16 * n)
          true
        }
    }
  }

  /** Decode a special-codec value body (cursor positioned at the payload,
    * i.e. after the u8|u32|u32 frame header).
    */
  def read(codec: Byte, lane: Int, numValues: Int, nulls: Array[Boolean],
      cur: ByteCursor, clen: Int, rawLen: Int): Vec = lane match {
    case Lane.I8 | Lane.I16 | Lane.I32 =>
      val v = IntCodecs.readSpecial(codec, cur, numValues, Lane.width(lane), clen)
      val out = new Array[Int](numValues)
      var i = 0
      while (i < numValues) { out(i) = v(i).toInt; i += 1 }
      IntVec(numValues, nulls, out)
    case Lane.I64 =>
      LongVec(numValues, nulls,
        IntCodecs.readSpecial(codec, cur, numValues, 8, clen))
    case Lane.F32 =>
      val bits =
        if (codec == Codec.Patas) FloatCodecs.read(cur, numValues, clen)
        else IntCodecs.readSpecial(codec, cur, numValues, 4, clen)
      val out = new Array[Float](numValues)
      var i = 0
      while (i < numValues) { out(i) = java.lang.Float.intBitsToFloat(bits(i).toInt); i += 1 }
      FloatVec(numValues, nulls, out)
    case Lane.F64 =>
      val bits =
        if (codec == Codec.Patas) FloatCodecs.read(cur, numValues, clen)
        else IntCodecs.readSpecial(codec, cur, numValues, 8, clen)
      val out = new Array[Double](numValues)
      var i = 0
      while (i < numValues) { out(i) = java.lang.Double.longBitsToDouble(bits(i)); i += 1 }
      DoubleVec(numValues, nulls, out)
    case Lane.Bin =>
      BinaryCodecs.read(codec, cur, numValues, nulls, clen)
    case Lane.Bool =>
      BoolCodecs.read(codec, cur, numValues, nulls, clen)
    case Lane.I128 =>
      require(codec == Codec.Wide, s"graft: unexpected codec $codec for i128 lane")
      val innerCodec = cur.getByte().toByte
      val iclen = cur.getIntLE()
      val irawLen = cur.getIntLE()
      val lo =
        if (Codec.isCommon(innerCodec)) {
          val plain = new Array[Byte](irawLen)
          BlockCompression.decompress(innerCodec, cur.arr, cur.pos, iclen, plain, 0, irawLen)
          cur.skip(iclen)
          PageDeserializer.plainDecode(Lane.I64, numValues, null, plain)
            .asInstanceOf[LongVec].values
        } else IntCodecs.readSpecial(innerCodec, cur, numValues, 8, iclen)
      val hi = new Array[Long](numValues)
      var i = 0
      while (i < numValues) { hi(i) = lo(i) >> 63; i += 1 }
      DecimalVec(numValues, nulls, hi, lo)
  }
}
