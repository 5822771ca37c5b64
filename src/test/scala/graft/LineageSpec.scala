package graft

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Lineage observed on the write equals lineage read back from the files
  * the commit wrote, on every commit path.
  */
class LineageSpec extends AnyFunSuite {
  import LineageSpec._
  private lazy val spark = SparkTestSession.spark

  test("run split across 2 batches: each snapshot's lineage equals the read-back oracle") {
    val table = Files.createTempDirectory("graft_lin_run").toString
    val opts = EncodeOptions(numParts = 6)
    val input = Fixtures.tokenTable(spark, 900L)
    val s1 = ResumableEncodeJob.run(input, table, opts, maxPartsPerRun = 3)
    assert(s1.committed.size == 3)
    assert(s1.lineage == lineageFor(spark, table, s1.committed))
    val s2 = ResumableEncodeJob.run(input, table, opts)
    assert(s2.version == 2 && s2.committed.size == 6)
    assert(s2.lineage == lineageFor(spark, table, s2.committed))
    assert(s2.lineage.values.map(_.n_docs).sum == 900L)
  }

  test("migrate to plain: lineage equals the read-back oracle of the new files") {
    val src = Files.createTempDirectory("graft_lin_src").toString
    val dst = Files.createTempDirectory("graft_lin_dst").toString
    ResumableEncodeJob.run(Fixtures.tokenTable(spark, 600L), src,
      EncodeOptions(numParts = 4, blockTokens = 1 << 13))
    val plain = EncodeOptions(codecPolicy = "plain")
    val s1 = ResumableEncodeJob.migrate(spark, src, dst, plain, maxPartsPerRun = 2)
    assert(s1.lineage == lineageFor(spark, dst, s1.committed))
    val s2 = ResumableEncodeJob.migrate(spark, src, dst, plain)
    assert(s2.committed.size == 4)
    assert(s2.lineage == lineageFor(spark, dst, s2.committed))
    assert(s2.lineage.values.flatMap(_.codecs.keys).toSet == Set("plain"))
  }

  test("appendBatch: part -1 equals the oracle folded over the committed batches") {
    val table = Files.createTempDirectory("graft_lin_stream").toString
    val opts = EncodeOptions(numParts = 4)
    val wave1 = Fixtures.tokenTable(spark, 300L)
    val wave2 = spark.range(300, 500)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    StreamingEncode.appendBatch(wave1, table, opts, batchId = 0L)
    StreamingEncode.appendBatch(wave2, table, opts, batchId = 1L)
    val two = ManifestIO.latest(spark, table).get
    val oracle = lineageOf(StreamingEncode.readCommittedBlocks(spark, table).toDF())
      .values.foldLeft(PartLineage.empty(-1))(_ + _)
    assert(two.lineage == Map(-1 -> oracle))
    assert(oracle.n_docs == 500L)

    // an empty micro-batch (replay after checkpoint recovery) commits and
    // leaves the totals unchanged; a replayed batch id is skipped
    val empty = spark.emptyDataset[TokenRow](Encoders.product[TokenRow])
    StreamingEncode.appendBatch(empty, table, opts, batchId = 2L)
    val three = ManifestIO.latest(spark, table).get
    assert(three.version == two.version + 1 && three.streamBatchId.contains(2L))
    assert(three.lineage == two.lineage)
    StreamingEncode.appendBatch(wave1, table, opts, batchId = 1L)
    assert(ManifestIO.latest(spark, table).get.version == three.version)
  }

  test("reduce rejects a null codec, naming the part and the block") {
    val bad = BlockMeta(3, 7L, null, 2, 10L, 40L, 12L, 5L, 0x55L)
    val e = intercept[InvalidCodecException](LineageAgg.reduce(LineageAgg.zero, bad))
    assert(e.getMessage.contains("part 3 block 7"), e.getMessage)
  }

  test("reduce and merge agree: partial buffers fold to the one-pass buffer") {
    val blocks = Seq(
      BlockMeta(0, 0L, "rle", 1, 4L, 16L, 6L, 3L, 0x0fL),
      BlockMeta(0, 1L, "dict", 2, 9L, 36L, 11L, 4L, 0xf0L),
      BlockMeta(1, 0L, "rle", 3, 7L, 28L, 8L, 2L, 0x33L),
      BlockMeta(0, 2L, "rle", 1, 5L, 20L, 7L, 1L, 0x01L))
    val whole = blocks.foldLeft(LineageAgg.zero)(LineageAgg.reduce)
    val split = LineageAgg.merge(
      blocks.take(2).foldLeft(LineageAgg.zero)(LineageAgg.reduce),
      blocks.drop(2).foldLeft(LineageAgg.zero)(LineageAgg.reduce))
    assert(split == whole)
    assert(whole(0) == PartLineage(0, 3, 4, 18, 72, 24, 0x0fL ^ 0xf0L ^ 0x01L,
      Map("rle" -> 2L, "dict" -> 1L), 8))
    assert(whole(1) == PartLineage(1, 1, 3, 7, 28, 8, 0x33L, Map("rle" -> 1L), 2))
  }

  test("a null codec fails the observed write with InvalidCodecException") {
    import spark.implicits._
    val rows = Seq(BlockMeta(3, 7L, null, 2, 10L, 40L, 12L, 5L, 0x55L)).toDF()
    val e = intercept[Exception](
      LineageAgg.observeWrite(rows)(_.write.format("noop").mode("overwrite").save()))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[InvalidCodecException] &&
      c.getMessage.contains("part 3 block 7")), e.toString)
  }
}

object LineageSpec {

  /** Read-back oracle: lineage from the committed files themselves. The read
    * is column-pruned (payload never touched) and schema-explicit, so a
    * zero-block batch yields empty lineage.
    */
  def lineageFor(spark: SparkSession, table: String,
                 batch: Set[Int]): Map[Int, PartLineage] =
    lineageOf(spark.read
      .schema(Encoders.product[EncodedBlock].schema)
      .parquet(ManifestIO.dataDir(table).toString)
      .where(col("part_id").isin(batch.toSeq: _*)))

  /** Two-level SQL aggregation: (part_id, codec) partials, then a per-part
    * rollup with the codec map and the xor of checksums.
    */
  def lineageOf(written: DataFrame): Map[Int, PartLineage] =
    written
      .groupBy("part_id", "codec")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("raw_bytes").as("raw_bytes"),
        sum("encoded_bytes").as("encoded_bytes"),
        sum("enc_micros").as("wall_micros"),
        expr("bit_xor(checksum)").as("ckx"))
      .groupBy("part_id")
      .agg(
        sum("n_blocks").as("n_blocks"),
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("raw_bytes").as("raw_bytes"),
        sum("encoded_bytes").as("encoded_bytes"),
        sum("wall_micros").as("wall_micros"),
        expr("bit_xor(ckx)").as("checksum_xor"),
        map_from_entries(collect_list(struct(col("codec"), col("n_blocks"))))
          .as("codecs"))
      .collect().map { r =>
        r.getAs[Int]("part_id") -> PartLineage(
          r.getAs[Int]("part_id"),
          r.getAs[Long]("n_blocks"),
          r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_tokens"),
          r.getAs[Long]("raw_bytes"),
          r.getAs[Long]("encoded_bytes"),
          r.getAs[Long]("checksum_xor"),
          r.getAs[Map[String, Long]]("codecs"),
          r.getAs[Long]("wall_micros")
        )
      }.toMap
}
