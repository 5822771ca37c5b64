package graft

import org.scalatest.funsuite.AnyFunSuite

/** The outer zstd frame on the decode path trusts nothing in its header:
  * a forged content size or a truncated frame must fail as an
  * [[InvalidCodecException]] naming the frame, before anything sized by
  * the header is allocated — never an OOM, a size wrapped negative
  * through `.toInt`, or a raw ZstdException. The ceiling
  * ([[BlockEncoder.maxCodecBytes]]) must still admit the widest block
  * every writer can emit.
  */
class ZframeSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(0x2F8A)
  private val rawDict: Array[Byte] = Array.tabulate(4096)(i => (i * 31 + 7).toByte)

  /** A frame header declaring `size` content bytes (single segment, 8-byte
    * content-size field) followed by one 4-byte raw last block.
    */
  private def forgedHeader(size: Long): Array[Byte] = {
    val out = new Array[Byte](4 + 1 + 8 + 3 + 4)
    Bits.writeIntLE(out, 0, 0xFD2FB528)
    out(4) = 0xE0.toByte
    var i = 0
    while (i < 8) { out(5 + i) = (size >>> (8 * i)).toByte; i += 1 }
    out(13) = ((4 << 3) | 1).toByte
    out
  }

  private def rows(tokens: Array[Int], perRow: Int): Array[TokenRow] =
    tokens.grouped(perRow).zipWithIndex.map { case (t, i) =>
      TokenRow(f"doc$i%05d", t, t.length, "zf")
    }.toArray

  /** `b` with its codec bytes framed under `outer`, regardless of size. */
  private def reframed(b: EncodedBlock, outer: String): EncodedBlock = {
    val codecBytes = Zframe.unframe(b.payload, b.outer, b.zdict)
    outer match {
      case "zstd" =>
        b.copy(payload = com.github.luben.zstd.Zstd.compress(codecBytes, 1),
          outer = "zstd", zdict = Array.emptyByteArray)
      case "zstdd" =>
        val c = new com.github.luben.zstd.ZstdCompressCtx()
        c.setLevel(1)
        c.setContentSize(true)
        c.loadDict(rawDict)
        try b.copy(payload = c.compress(codecBytes), outer = "zstdd", zdict = rawDict)
        finally c.close()
    }
  }

  private val base: EncodedBlock = {
    val toks = Array.tabulate(8192)(i => (i / 5) % 300)
    BlockEncoder.encodeBlock(0, 0L, rows(toks, 1024),
      EncodeOptions(codecPolicy = "plain"))
  }

  /** `sizeCheck`: the header's size itself must be what is rejected, before
    * any decompression is attempted.
    */
  private def assertFailsClosed(b: EncodedBlock, label: String, sizeCheck: Boolean): Unit = {
    val expect = s"outer frame '${b.outer}'" + (if (sizeCheck) " declares content size" else "")
    val full = intercept[InvalidCodecException] {
      BlockEncoder.decodeBlock(b, verify = true).toList
    }
    assert(full.getMessage.contains(expect), s"$label: ${full.getMessage}")
    val sliced = intercept[InvalidCodecException] {
      BlockEncoder.decodeBlockRange(b, b.first_doc_id, b.last_doc_id).toList
    }
    assert(sliced.getMessage.contains(expect), s"$label: ${sliced.getMessage}")
  }

  test("forged and truncated frames fail closed on decodeBlock and decodeBlockRange") {
    assert(base.outer == "zstd", "fixture block must be zstd-framed")
    for (outer <- Seq("zstd", "zstdd")) {
      val good = reframed(base, outer)
      assert(BlockEncoder.decodeBlock(good, verify = true).map(_.tokens.toSeq).toList ==
        BlockEncoder.decodeBlock(base, verify = true).map(_.tokens.toSeq).toList)
      val forged = Seq(
        ("declares 1.9 GB", forgedHeader(1900000000L), true),
        ("declares 5 GB (wraps through toInt)", forgedHeader(5000000000L), true),
        ("truncated header", good.payload.take(4), false),
        ("truncated body", good.payload.take(good.payload.length / 2), false))
      for ((label, payload, sizeCheck) <- forged)
        assertFailsClosed(good.copy(payload = payload), s"$outer $label", sizeCheck)
    }
  }

  test("the ceiling scales with n_tokens and caps at the array limit") {
    val n = base.n_tokens
    val big = reframed(base, "zstd").copy(
      payload = forgedHeader(BlockEncoder.maxCodecBytes(n) + 1))
    assertFailsClosed(big, "one byte over the ceiling", sizeCheck = true)
    assert(BlockEncoder.maxCodecBytes(-1L) == BlockEncoder.MaxCodecHeaderBytes)
    assert(BlockEncoder.maxCodecBytes(Long.MaxValue) == Zframe.MaxContentBytes)
  }

  test("pinned-policy worst-case blocks of every writer still decode under both frames") {
    val n = 20000
    val worst: Seq[(String, Array[Int])] = Seq(
      "plain" -> Array.fill(n)(rnd.nextInt()),
      "bitpack" -> Array.fill(n)(rnd.nextInt() & Int.MaxValue),
      "for" -> Array.fill(n)(rnd.nextInt()),
      "delta" -> Array.fill(n)(rnd.nextInt()),
      // every token its own run with a 5-byte value varint
      "rle" -> Array.tabulate(n)(i => if (i % 2 == 0) Int.MinValue + i else Int.MaxValue - i),
      // all-distinct values spread over the whole range: widest table
      "dict" -> Array.tabulate(n)(i => (i.toLong * (0xFFFFFFFFL / n) + Int.MinValue).toInt),
      "fsst2" -> Array.fill(n)(rnd.nextInt(FsstCodec.SymbolBase)))
    for ((name, toks) <- worst) {
      val b = BlockEncoder.encodeBlock(0, 0L, rows(toks, 1000),
        EncodeOptions(codecPolicy = name, tableReuse = false))
      assert(b.codec == name)
      val codecBytes = Zframe.unframe(b.payload, b.outer, b.zdict)
      assert(codecBytes.length <= BlockEncoder.maxCodecBytes(b.n_tokens),
        s"$name: ${codecBytes.length} codec bytes over the ceiling")
      for (outer <- Seq("zstd", "zstdd")) {
        val f = reframed(b, outer)
        val back = BlockEncoder.decodeBlock(f, verify = true).flatMap(_.tokens).toArray
        assert(back.sameElements(toks), s"$name under $outer")
        val sliced = BlockEncoder.decodeBlockRange(f, f.first_doc_id, f.last_doc_id)
          .flatMap(_.tokens).toArray
        assert(sliced.sameElements(toks), s"$name sliced under $outer")
      }
    }
  }
}
