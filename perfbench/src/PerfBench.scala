package perfbench

import graft._
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: runs one workload against the engine's public
  * API and writes a raw record (op walls, checks, trace) for run.py, which
  * turns it into metrics. Usage: PerfBench <plan.json> <record.json>.
  */
object PerfBench {
  val SpanProp = "perfbench.span"
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val rec = mapper.createObjectNode()
    val run = new Run(plan, rec)
    try run.run()
    catch {
      case t: Throwable =>
        rec.put("fatal", s"${t.getClass.getName}: ${t.getMessage}")
        t.printStackTrace()
    } finally {
      run.finish()
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), rec)
    }
    // the record is complete and run.py removes everything the run wrote;
    // halting skips stopping Spark, which only drains its event queues
    Runtime.getRuntime.halt(0)
  }

  def nanos[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }

  /** Median wall of `reps` calls, in ns (single-threaded kernel replay). */
  def medianNs(reps: Int)(f: => Any): Long = {
    val xs = Array.fill(reps)(nanos(f)._2).sorted
    xs(reps / 2)
  }
}

/** Spans around the benchmark's calls into the engine. A span id rides on
  * the SparkContext local property, so every job the call launches is
  * tagged with the span that launched it.
  */
final class Tracer(sc: SparkContext) {
  private val offsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = System.nanoTime() / 1000L + offsetUs
  var enabled = false
  private var nextId = 0
  private val stack = ArrayBuffer.empty[Int]
  val spans = ArrayBuffer.empty[(Int, Int, String, Long, Long)]

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      nextId += 1
      val id = nextId
      val parent = stack.lastOption.getOrElse(-1)
      stack += id
      sc.setLocalProperty(PerfBench.SpanProp, id.toString)
      val t0 = nowUs
      try f
      finally {
        spans += ((id, parent, name, t0, nowUs))
        stack.remove(stack.length - 1)
        sc.setLocalProperty(PerfBench.SpanProp, stack.lastOption.map(_.toString).orNull)
      }
    }
}

/** Job, stage and task records of tagged jobs, plus the peak bytes of
  * persisted RDD blocks. Called on the listener-bus thread.
  */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val span: String, val callsite: String,
                  val submitMs: Long) {
    var endMs = -1L
    var firstTaskMs = Long.MaxValue
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskMs = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  val stages = ArrayBuffer.empty[ObjectNode]
  private val persisted = mutable.Map.empty[String, Long]
  private var persistNow = 0L
  var persistPeak = 0L

  def resetPersistPeak(): Unit = synchronized { persistPeak = persistNow }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(PerfBench.SpanProp)).orNull
    if (span != null) {
      // adaptive execution submits a query's stages as jobs of their own
      // from a thread pool; the SQL execution they belong to carries the
      // call site of the action ("parquet at manifest.scala:335")
      val callsite = Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(id => executions.get(id.toLong))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      jobs(e.jobId) = new Job(e.jobId, span, callsite, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }
  private val executions = mutable.Map.empty[Long, String]
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executions(x.executionId) = x.description }
    case _ =>
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.firstTaskMs = math.min(j.firstTaskMs, e.taskInfo.launchTime)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId))
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { job =>
      val o = PerfBench.mapper.createObjectNode()
      o.put("id", si.stageId)
      o.put("attempt", si.attemptNumber())
      o.put("job", job)
      o.put("is_map", SparkShim.isShuffleMap(si))
      o.put("submit_ms", si.submissionTime.getOrElse(0L))
      o.put("complete_ms", si.completionTime.getOrElse(0L))
      o.put("n_tasks", si.numTasks)
      val tm = si.taskMetrics
      if (tm != null) {
        o.put("run_ms", tm.executorRunTime)
        o.put("cpu_ns", tm.executorCpuTime)
        o.put("shuffle_write", tm.shuffleWriteMetrics.bytesWritten)
        o.put("shuffle_read", tm.shuffleReadMetrics.totalBytesRead)
        o.put("fetch_wait_ms", tm.shuffleReadMetrics.fetchWaitTime)
        o.put("spill", tm.memoryBytesSpilled + tm.diskBytesSpilled)
        o.put("input_bytes", tm.inputMetrics.bytesRead)
      }
      val ta = o.putArray("task_ms")
      taskMs.remove((si.stageId, si.attemptNumber())).foreach(_.foreach(d => ta.add(d)))
      stages += o
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      persistNow -= persisted.getOrElse(key, 0L)
      val now = info.memSize + info.diskSize
      if (now > 0) persisted(key) = now else persisted.remove(key)
      persistNow += now
      persistPeak = math.max(persistPeak, persistNow)
    }
  }
}

final class Run(plan: JsonNode, rec: ObjectNode) {
  import PerfBench._

  private val workload = plan.get("workload").asText
  private val seed = plan.get("seed").asLong
  private val seconds = plan.get("seconds").asDouble
  private val trace = plan.get("trace").asInt == 1
  private val cores = plan.get("cores").asInt
  private val root = plan.get("root").asText
  private val nDocs = plan.get("n_docs").asLong
  private val setupReps = plan.get("setup_reps").asInt
  private val minOps = plan.get("min_ops").asInt
  private val warmupS = plan.get("warmup_s").asDouble
  // the planned part count follows the box: two parts per core
  private val opts = EncodeOptions(numParts = 2 * cores)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private lazy val tracer = new Tracer(spark.sparkContext)
  private lazy val recorder = new Recorder
  private val ops = rec.putArray("ops")
  private val checks = ArrayBuffer.empty[String] // one entry per failed check
  private var attempted = 0

  private val t0 = System.nanoTime()
  /** Seconds since the run began at each phase boundary, for sizing runs. */
  private val phases = rec.putObject("phases")
  private def mark(phase: String): Unit = phases.put(phase, (System.nanoTime() - t0) / 1e9)

  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) checks += what
  }

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Check totals and peak RSS, written whether or not the run failed. */
  def finish(): Unit = {
    rec.put("attempted", attempted)
    val f = rec.putArray("failures")
    checks.take(20).foreach(f.add)
    rec.put("failed", checks.length)
    val st = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    st.linesIterator.find(_.startsWith("VmHWM:")).foreach { l =>
      rec.put("rss_hwm_kb", l.split("\\s+")(1).toLong)
    }
  }

  def run(): Unit = {
    val v = rec.putObject("versions")
    v.put("java", System.getProperty("java.version"))
    v.put("spark", org.apache.spark.SPARK_VERSION)
    v.put("scala", scala.util.Properties.versionNumberString)
    redirectEntryScratch()
    if (trace) spark.sparkContext.addSparkListener(recorder)
    mark("session")
    workload match {
      case "ingest" => ingest()
      case "scan" => scan()
      case "lookup" => lookup()
      case "queries" => queries()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    mark("checks")
    if (trace) {
      SparkShim.drain(spark.sparkContext)
      writeTrace()
      mark("trace")
    }
  }

  /** SparkEntry keeps its query scratch tables under a private per-JVM
    * root on /dev/shm; point it into this run's scratch root so every
    * file the benchmark causes stays under one directory run.py removes.
    */
  private def redirectEntryScratch(): Unit = {
    val dir = Files.createDirectories(Paths.get(root, "entry-scratch"))
    val ok =
      try {
        val cls = Class.forName("graft.SparkEntry$")
        val f = cls.getDeclaredField("scratchRoot")
        f.setAccessible(true)
        f.set(null, dir)
        val b = cls.getDeclaredField("bitmap$0")
        b.setAccessible(true)
        b.setBoolean(null, true)
        true
      } catch { case _: ReflectiveOperationException => false }
    rec.put("entry_scratch_redirected", ok)
  }

  // ------------------------------------------------------------ helpers

  private def writeFixture(dir: String): Unit =
    Fixtures.tokenTable(spark, nDocs, seed).write.parquet(dir)

  private def readInput(dir: String): Dataset[TokenRow] =
    spark.read.parquet(dir).as[TokenRow](Encoders.product[TokenRow])

  /** (rows, tokens, sum of per-row XXH64) — the output check of ingest and
    * scan, computed with Spark's own xxhash64, independent of the engine.
    */
  private def digest(df: DataFrame): (Long, Long, String) = {
    val r = df.agg(
      count(lit(1)),
      sum(size(col("tokens")).cast("long")),
      sum(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
        .cast(DecimalType(38, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), String.valueOf(r.get(2)))
  }

  private def decoded(table: String): Dataset[TokenRow] =
    TokenCompressor(opts).decode(ResumableEncodeJob.readBlocks(spark, table), verify = true)

  /** On-disk bytes of a committed table: parquet data and snapshot files,
    * without the filesystem's hidden checksum side files.
    */
  private def storedBytes(table: String): Long =
    Files.walk(Paths.get(table)).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      .map(Files.size).sum

  /** Each setup rep builds its inputs from scratch in its own directory;
    * the last rep's inputs are used and the others removed.
    */
  private def setup(build: String => Unit): String = {
    val times = rec.putArray("setup_s")
    var dir = ""
    for (i <- 0 until setupReps) {
      if (dir.nonEmpty) deleteRec(new File(dir))
      dir = s"$root/setup$i"
      val (_, ns) = nanos(build(dir))
      times.add(ns / 1e9)
    }
    mark("setup")
    dir
  }

  private def deleteRec(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRec)
    f.delete(): Unit
  }

  /** The committed table the workload's metrics describe. */
  private def putTable(table: String): Unit = {
    rec.put("table", table)
    rec.put("stored_bytes", storedBytes(table))
    rec.put("stored_tokens",
      ManifestIO.latest(spark, table).get.lineage.values.map(_.n_tokens).sum)
  }

  /** Untimed ops for `warmup_s` seconds (at least two), so the JIT and the
    * query caches are warm before anything is measured.
    */
  private def warmUp(op: => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < 2 || System.nanoTime() - t0 < warmupS * 1e9) { op; n += 1 }
    rec.put("warmup_ops", n)
  }

  /** The measured loop: ops run until their summed wall reaches the run
    * length and at least `minOps` ran. In a traced run every second op is
    * traced, so traced and untraced walls interleave.
    */
  private def loop(op: (Int, Boolean) => ObjectNode): Unit = {
    mark("warmup")
    val gc0 = gcMs
    var measured = 0.0
    var i = 0
    while (measured < seconds || i < minOps) {
      val traced = trace && i % 2 == 1
      if (traced) { SparkShim.drain(spark.sparkContext); recorder.resetPersistPeak() }
      tracer.enabled = traced
      val o = op(i, traced)
      tracer.enabled = false
      o.put("traced", traced)
      measured += o.get("wall_s").asDouble
      ops.add(o)
      i += 1
    }
    rec.put("gc_s", (gcMs - gc0) / 1000.0)
    mark("loop")
  }

  private def timedOp(name: String)(f: => Unit): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("name", name)
    val (_, ns) = nanos(tracer.span(name)(f))
    o.put("wall_s", ns / 1e9)
    o
  }

  // ----------------------------------------------------------- workloads

  private def ingest(): Unit = {
    val fx = setup(writeFixture)
    val input = readInput(fx)
    val want = digest(input.toDF())
    val tableOf = (i: Int) => s"$root/ingest/t$i"
    var w = 0
    warmUp {
      val t = s"$root/ingest/warmup$w"
      ResumableEncodeJob.run(input, t, opts)
      deleteRec(new File(t))
      w += 1
    }
    var last = ""
    loop { (i, traced) =>
      val table = tableOf(i)
      val o = timedOp("manifest.run") {
        ResumableEncodeJob.run(input, table, opts): Unit
      }
      if (traced) {
        SparkShim.drain(spark.sparkContext)
        o.put("persist_peak_bytes", recorder.persistPeak)
        val (_, ns) = nanos(Planner.plan(input, opts))
        rec.withArray("plan_s").add(ns / 1e9)
      }
      val got = digest(decoded(table).toDF())
      check(got == want, s"ingest op $i: committed table digest $got != input $want")
      o.put("tokens", got._2)
      if (last.nonEmpty) deleteRec(new File(last))
      last = table
      o
    }
    putTable(last)
  }

  private def committedSetup(): (String, String) = {
    var fxDir = ""
    val dir = setup { d =>
      fxDir = s"$d/fixture"
      writeFixture(fxDir)
      ResumableEncodeJob.run(readInput(fxDir), s"$d/table", opts): Unit
    }
    (s"$dir/fixture", s"$dir/table")
  }

  private def scan(): Unit = {
    val (fx, table) = committedSetup()
    val want = digest(readInput(fx).toDF())
    val decodeAll = () => decoded(table).toDF()
      .agg(count(lit(1)), sum(size(col("tokens")).cast("long"))).head()
    warmUp(decodeAll())
    loop { (i, traced) =>
      var r: org.apache.spark.sql.Row = null
      val o = timedOp("engine.decode") { r = decodeAll() }
      check(r.getLong(0) == want._1 && r.getLong(1) == want._2,
        s"scan op $i: rows/tokens ${r.getLong(0)}/${r.getLong(1)} != ${want._1}/${want._2}")
      o.put("tokens", r.getLong(1))
      o
    }
    val got = digest(decoded(table).toDF())
    check(got == want, s"scan: decoded digest $got != input $want")
    putTable(table)
  }

  private def lookup(): Unit = {
    val (_, table) = committedSetup()
    val sorted = (0L until nDocs).map(i => Fixtures.row(seed, i).doc_id)
      .sorted(DocIdOrder).toArray
    val idxOf = (d: String) => d.substring(d.lastIndexOf('-') + 1).toLong
    val lookups = plan.get("lookups")
    val snap = ManifestIO.latest(spark, table).get
    lazy val index = blockIndex(table)
    val reader = rec.putArray("reader")
    def range(i: Int): (String, String, Int, Int) = {
      val e = lookups.get(i % lookups.size)
      val rank = e.get(0).asInt
      val last = math.min(rank + e.get(1).asInt - 1, sorted.length - 1)
      (sorted(rank), sorted(last), rank, last)
    }
    def call(from: String, to: String): Array[TokenRow] =
      (if (from == to) RangeReader.lookup(spark, table, from)
       else RangeReader.readRange(spark, table, from, to)).collect()
    var w = 0
    warmUp { val (from, to, _, _) = range(lookups.size - 1 - w); call(from, to); w += 1 }
    loop { (i, traced) =>
      val (from, to, rank, last) = range(i)
      var got: Array[TokenRow] = null
      val o = timedOp(if (from == to) "reader.lookup" else "reader.readRange") {
        got = call(from, to)
      }
      val want = (rank to last).map(k => Fixtures.row(seed, idxOf(sorted(k))))
      val gs = got.sortBy(_.doc_id)(DocIdOrder)
      check(gs.length == want.length && gs.zip(want).forall { case (g, w) =>
        g.doc_id == w.doc_id && g.n_tok == w.n_tok && g.source == w.source &&
          java.util.Arrays.equals(g.tokens, w.tokens)
      }, s"lookup op $i [$from, $to]: ${gs.length} rows, want ${want.length}")
      o.put("tokens", got.iterator.map(_.n_tok.toLong).sum)
      if (traced) {
        val r = reader.addObject()
        r.put("latest_ms", nanos(ManifestIO.latest(spark, table))._2 / 1e6)
        r.put("plan_ms", nanos(RangeReader.rangeBlocks(spark, table, from, to))._2 / 1e6)
        val cand = RangeReader.candidateParts(snap.plan, from, to).filter(snap.committed).toSet
        val read = index.filter { case (p, f, l, _) =>
          cand(p) && DocIdOrder.compare(l, from) >= 0 && DocIdOrder.compare(f, to) <= 0
        }
        val useful = read.count { case (_, _, _, ids) =>
          ids.exists(d => DocIdOrder.compare(d, from) >= 0 && DocIdOrder.compare(d, to) <= 0)
        }
        r.put("candidate_parts", cand.size)
        r.put("blocks_read", read.length)
        r.put("blocks_useful", useful)
        r.put("rows", got.length)
      }
      o
    }
    putTable(table)
  }

  private def blockIndex(table: String): Array[(Int, String, String, Array[String])] =
    ResumableEncodeJob.readBlocks(spark, table).toDF()
      .select("part_id", "first_doc_id", "last_doc_id", "doc_ids").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getSeq[String](3).toArray))

  private def queries(): Unit = {
    val sf = plan.get("sf_dir").asText
    val dir = setup { d =>
      ResumableEncodeJob.run(TokenTables.fromLineitem(spark, sf), s"$d/table", opts): Unit
    }
    val table = s"$dir/table"
    putTable(table)
    val out = s"$root/qout"
    Files.createDirectories(Paths.get(out))
    mapper.writeValue(new File(s"$out/oracle_sql.json"), SparkEntry.oracleSql.asJava)
    val order = new scala.util.Random(plan.get("query_salt").asLong)
      .shuffle(SparkEntry.queries.toSeq.sortBy(_._1))
    mark("warmup")
    val gc0 = gcMs
    order.zipWithIndex.foreach { case ((name, fn), i) =>
      val legs = if (!trace) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      legs.foreach { traced =>
        tracer.enabled = traced
        val target = if (traced) s"$out-traced/$name" else s"$out/$name"
        val o = mapper.createObjectNode()
        o.put("name", name)
        val (err, ns) = nanos(tracer.span(s"SparkEntry.$name") {
          try { fn(spark, sf).coalesce(1).write.mode(SaveMode.Overwrite).parquet(target); null }
          catch { case t: Throwable => s"${t.getClass.getSimpleName}: ${t.getMessage}" }
        })
        tracer.enabled = false
        o.put("wall_s", ns / 1e9)
        o.put("traced", traced)
        if (err != null) o.put("error", err.take(300))
        ops.add(o)
      }
    }
    rec.put("gc_s", (gcMs - gc0) / 1000.0)
    mark("loop")
    rec.put("query_out", out)
  }

  // --------------------------------------------------------------- trace

  private def writeTrace(): Unit = {
    val t = rec.putObject("trace")
    val sp = t.putArray("spans")
    tracer.spans.foreach { case (id, parent, name, s, e) =>
      val o = sp.addObject()
      o.put("id", s"b$id")
      if (parent >= 0) o.put("parent", s"b$parent") else o.putNull("parent")
      o.put("name", name); o.put("start", s); o.put("end", e)
    }
    val js = t.putArray("jobs")
    recorder.synchronized {
      recorder.jobs.values.foreach { j =>
        val o = js.addObject()
        o.put("id", j.id); o.put("span", s"b${j.span}"); o.put("callsite", j.callsite)
        o.put("submit_ms", j.submitMs); o.put("end_ms", j.endMs)
        if (j.firstTaskMs != Long.MaxValue) o.put("first_task_ms", j.firstTaskMs)
        else o.putNull("first_task_ms")
      }
      val ss = t.putArray("stages")
      recorder.stages.foreach(ss.add)
    }
    if (rec.has("plan_s")) t.set[JsonNode]("plan_s", rec.remove("plan_s"))
    if (rec.has("reader")) t.set[JsonNode]("reader", rec.remove("reader"))
    val table = rec.get("table").asText
    t.set[JsonNode]("table", tableStats(table))
    t.set[JsonNode]("replay", replay(table))
  }

  /** Exact counts read from the committed table's own columns. */
  private def tableStats(table: String): ObjectNode = {
    val rows = ResumableEncodeJob.readBlocks(spark, table).toDF()
      .select(col("part_id"), col("block_id"), col("codec"), col("outer"),
        col("n_tokens"), col("encoded_bytes"), length(col("payload")),
        length(col("symtab")), length(col("zdict")), xxhash64(col("symtab")))
      .collect().sortBy(r => (r.getInt(0), r.getLong(1)))
    val o = mapper.createObjectNode()
    o.put("blocks", rows.length)
    o.put("tokens", rows.map(_.getLong(4)).sum)
    o.put("payload_bytes", rows.map(_.getInt(6).toLong).sum)
    o.put("symtab_bytes", rows.map(_.getInt(7).toLong).sum)
    o.put("zdict_bytes", rows.map(_.getInt(8).toLong).sum)
    o.put("framed_blocks", rows.count(_.getString(3) != "none"))
    val isTable = (c: String) => c == DictCodec.name || c == FsstCodec.name
    o.put("table_blocks", rows.count(r => isTable(r.getString(2))))
    o.put("table_reused", rows.indices.count { i =>
      i > 0 && isTable(rows(i).getString(2)) && rows(i).getInt(7) > 0 &&
        rows(i - 1).getInt(0) == rows(i).getInt(0) &&
        rows(i - 1).getInt(7) == rows(i).getInt(7) &&
        rows(i - 1).getLong(9) == rows(i).getLong(9)
    })
    val snap = ManifestIO.latest(spark, table).get
    val perPart = rows.groupBy(_.getInt(0)).map { case (p, rs) => p -> rs.map(_.getLong(4)).sum }
    val pt = o.putArray("part_tokens")
    (0 until snap.plan.numParts).foreach(p => pt.add(perPart.getOrElse(p, 0L)))
    val cs = o.putObject("codecs")
    rows.groupBy(_.getString(2)).foreach { case (c, rs) =>
      val co = cs.putObject(c)
      co.put("blocks", rs.length)
      co.put("bytes", rs.map(_.getLong(5)).sum)
      co.put("tokens", rs.map(_.getLong(4)).sum)
    }
    o
  }

  /** Single-threaded replay of a seeded sample of the committed blocks
    * through the kernels' public entry points. Each wrapper's self time is
    * its total minus its replayed children (see benchlib.per_layer).
    */
  private def replay(table: String): ObjectNode = {
    val Reps = 3
    val all = ResumableEncodeJob.readBlocks(spark, table).collect()
      .sortBy(b => (b.part_id, b.block_id))
    val sample = new scala.util.Random(seed).shuffle(all.toSeq).take(8)
    val o = mapper.createObjectNode()
    var tokens, statsNs, selectNs, chosenEnc, frameNs, frameBytes, checksumNs = 0L
    var encBlockNs, unframeNs, unframeBytes, chosenDec, verifyNs, decBlockNs = 0L
    var chosenBytes, bestBytes = 0L
    val perCodec = mutable.Map.empty[String, Array[Long]] // encode ns, decode ns, tokens
    val level = opts.zstdLevel
    sample.foreach { b =>
      val rows = BlockEncoder.decodeBlock(b, verify = true).toArray
      val flat = rows.flatMap(_.tokens)
      val n = flat.length
      tokens += n
      statsNs += medianNs(Reps)(Analyzer.stats(flat))
      val st = Analyzer.stats(flat)
      selectNs += medianNs(Reps)(Analyzer.select(st, opts.codecPolicy))
      val chosen = Analyzer.select(st, opts.codecPolicy)
      var best = Long.MaxValue
      CodecRegistry.all.filter(c => c.name != FsstLegacyCodec.name && c.applicable(st)).foreach { c =>
        val enc = c.encode(flat)
        val e = medianNs(Reps)(c.encode(flat))
        val d = medianNs(Reps)(c.decode(enc, n))
        val a = perCodec.getOrElseUpdate(c.name, new Array[Long](3))
        a(0) += e; a(1) += d; a(2) += n
        val framed = Zframe.frame(enc, level)._1.length.toLong
        best = math.min(best, framed)
        if (c eq chosen) {
          chosenEnc += e
          chosenBytes += framed
          frameNs += medianNs(Reps)(Zframe.frame(enc, level))
          frameBytes += enc.length
        }
      }
      bestBytes += best
      checksumNs += medianNs(Reps)(Checksum.blockChecksumFlat(b.n_toks, flat))
      encBlockNs += medianNs(Reps)(BlockEncoder.encodeBlock(b.part_id, b.block_id, rows, opts))
      val codecBytes = Zframe.unframe(b.payload, b.outer, b.zdict)
      unframeNs += medianNs(Reps)(Zframe.unframe(b.payload, b.outer, b.zdict))
      unframeBytes += codecBytes.length
      chosenDec += medianNs(Reps) {
        if (b.symtab != null && b.symtab.nonEmpty)
          CodecRegistry.byName(b.codec).asInstanceOf[TableCodec]
            .decodeWith(b.symtab, codecBytes, n)
        else CodecRegistry.decode(b.codec, codecBytes, n)
      }
      verifyNs += medianNs(Reps)(Checksum.blockChecksumFlat(b.n_toks, flat) == b.checksum)
      decBlockNs += medianNs(Reps)(BlockEncoder.decodeBlock(b, verify = true))
    }
    o.put("blocks", sample.length)
    o.put("tokens", tokens)
    o.put("stats_ns", statsNs); o.put("select_ns", selectNs)
    o.put("chosen_encode_ns", chosenEnc); o.put("frame_ns", frameNs)
    o.put("frame_bytes", frameBytes); o.put("checksum_ns", checksumNs)
    o.put("encode_block_ns", encBlockNs); o.put("unframe_ns", unframeNs)
    o.put("unframe_bytes", unframeBytes); o.put("chosen_decode_ns", chosenDec)
    o.put("verify_ns", verifyNs); o.put("decode_block_ns", decBlockNs)
    o.put("chosen_bytes", chosenBytes); o.put("best_bytes", bestBytes)
    val cs = o.putObject("codecs")
    perCodec.foreach { case (c, a) =>
      val co = cs.putObject(c)
      co.put("encode_ns", a(0)); co.put("decode_ns", a(1)); co.put("tokens", a(2))
    }
    o
  }
}
