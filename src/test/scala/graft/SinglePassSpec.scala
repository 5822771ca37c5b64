package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable

/** Every commit path encodes, writes and records lineage in one pass: no
  * RDD block is cached, no job starts after the write job, and the
  * lineage observation runs in the write's result stage (above the last
  * shuffle exchange), where Spark counts each partition once.
  */
class SinglePassSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A job's id, start and end times and the call site of the SQL
    * execution that ran it ("" outside one).
    */
  private final case class Job(id: Int, start: Long, end: Long, callSite: String)

  /** What a commit did, from listener events. */
  private final case class Trace(jobs: Seq[Job], cachedBlocks: Seq[String],
                                 writePlans: Seq[SparkPlan])

  private def traced(body: => Unit): Trace = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val starts = mutable.Map.empty[Int, (Long, Option[Long])]
    val ends = mutable.Map.empty[Int, Long]
    val executions = mutable.Map.empty[Long, String]
    val cached = mutable.ArrayBuffer.empty[String]
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val events = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts(e.jobId) = (e.time, Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).map(_.toLong))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends(e.jobId) = e.time
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD && e.blockUpdatedInfo.storageLevel.isValid)
          cached += e.blockUpdatedInfo.blockId.name
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions(s.executionId) = s.description
        case _ =>
      }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (exists(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]))
          plans += qe.executedPlan
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(events)
    spark.listenerManager.register(queries)
    try {
      body
      ListenerBusDrain(sc)
    } finally {
      sc.removeSparkListener(events)
      spark.listenerManager.unregister(queries)
    }
    val jobs = starts.toSeq.sortBy(_._1).map { case (id, (t, exec)) =>
      Job(id, t, ends.getOrElse(id, Long.MaxValue), exec.flatMap(executions.get).getOrElse(""))
    }
    Trace(jobs, cached.toSeq, plans.toSeq)
  }

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  private def isShuffle(p: SparkPlan): Boolean =
    p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[ShuffleQueryStageExec]

  private def exists(p: SparkPlan)(f: SparkPlan => Boolean): Boolean =
    f(p) || children(p).exists(exists(_)(f))

  /** The CollectMetricsExec nodes of `p`, each with whether a shuffle lies
    * between it and the root.
    */
  private def observations(p: SparkPlan, shuffleAbove: Boolean = false)
      : Seq[(CollectMetricsExec, Boolean)] = p match {
    case c: CollectMetricsExec =>
      (c, shuffleAbove) +: children(c).flatMap(observations(_, shuffleAbove))
    case other =>
      children(other).flatMap(observations(_, shuffleAbove || isShuffle(other)))
  }

  private def assertSinglePass(t: Trace, source: String, shuffled: Boolean): Unit = {
    assert(t.cachedBlocks.isEmpty, s"cached RDD blocks: ${t.cachedBlocks}")
    val writes = t.jobs.filter(_.callSite.startsWith(s"parquet at $source"))
    assert(writes.nonEmpty, s"no write job among ${t.jobs}")
    val writeEnd = writes.map(_.end).max
    val after = t.jobs.filter(_.start > writeEnd)
    assert(after.isEmpty, s"jobs started after the write job ended: $after")

    assert(t.writePlans.size == 1, s"${t.writePlans.size} write plans")
    val obs = observations(t.writePlans.head)
    assert(obs.size == 1, s"expected one observation in\n${t.writePlans.head}")
    val (node, shuffleAbove) = obs.head
    assert(!shuffleAbove, s"observation below a shuffle exchange:\n${t.writePlans.head}")
    if (shuffled)
      assert(exists(node)(isShuffle), s"no exchange below the observation:\n${t.writePlans.head}")
  }

  test("run: one pass, no cache, no job after the write, observation above the exchange") {
    val table = Files.createTempDirectory("graft_1p_run").toString
    val input = Fixtures.tokenTable(spark, 400L)
    val opts = EncodeOptions(numParts = 4)
    ResumableEncodeJob.run(input, table, opts, maxPartsPerRun = 2)
    val t = traced(ResumableEncodeJob.run(input, table, opts))
    assertSinglePass(t, "manifest.scala", shuffled = true)
  }

  test("migrate: one pass, no cache, no job after the write, observation in the result stage") {
    val src = Files.createTempDirectory("graft_1p_src").toString
    val dst = Files.createTempDirectory("graft_1p_dst").toString
    ResumableEncodeJob.run(Fixtures.tokenTable(spark, 400L), src, EncodeOptions(numParts = 4))
    val t = traced(ResumableEncodeJob.migrate(spark, src, dst, EncodeOptions(codecPolicy = "plain")))
    assertSinglePass(t, "manifest.scala", shuffled = false)
  }

  test("appendBatch: one pass, no cache, no job after the write, observation above the exchange") {
    val table = Files.createTempDirectory("graft_1p_stream").toString
    val opts = EncodeOptions(numParts = 4)
    StreamingEncode.appendBatch(Fixtures.tokenTable(spark, 200L), table, opts, batchId = 0L)
    val wave2 = spark.range(200, 400)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    val t = traced(StreamingEncode.appendBatch(wave2, table, opts, batchId = 1L))
    assertSinglePass(t, "streaming.scala", shuffled = true)
  }
}
