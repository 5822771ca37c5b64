package graft

import org.apache.spark.sql.SparkSession

/** Prints formatted physical plans for the load-bearing pipelines so plan
  * shape (pushdown, pruning, broadcast, codegen spans) can be audited.
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"

    def show(tag: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $tag ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }

    // 1) encode pipeline: for_pack must sit BELOW the exchange, for_unpack
    // above it, both native codegen (r6 verdict item 6)
    val input = TokenTables.fromLineitem(s, dir)
    val comp = TokenCompressor(EncodeOptions(numParts = 8))
    val plan = Planner.plan(input, EncodeOptions(numParts = 8))
    show("encode (packed exchange)")(
      comp.encodeWithPlan(input, plan, None).toDF())

    // 3) digest roundtrip query
    show("digest")(TokenTables.roundTripDigest(s, dir, "auto"))

    // 4) ann brute force (broadcast expected)
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    show("ann_topk")(SimSearch.bruteForceTopK(e, e.limit(4), 5))

    // 5) minhash pairs (single shuffle on band buckets)
    val d = s.read.parquet(s"$dir/documents.parquet")
    show("dd_minhash")(TextOps.minhashDupPairs(d))
    // 5b) audited variant: same shape, gate side localized; with no
    // oversized keys the anti-join is optimized away entirely
    show("dd_minhash audited")(TextOps.minhashDupPairs(d, auditDropped = true))

    // 6) IVF search (corpus scanned once, probe side broadcast)
    show("ann_ivf")(SimSearch.ivfTopK(e, e.limit(4), k = 3, kCells = 4, nprobe = 2))

    s.stop()
  }
}
