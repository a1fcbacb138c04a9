package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.{OpCaches, SparkEntry, TradeGraph}

/** The benchmark's closed-loop client: one JVM, one session, one query at
  * a time (the `OpCaches` contract). It executes a plan written by
  * `run.py` — data versions, an untimed first-contact pass and warm passes,
  * timed rounds —
  * calling the engine only through `SparkEntry.queries`, and writes one
  * JSON record with every query's build/plan/exec seconds, its check
  * against the oracle rows, and (traced runs) the per-layer counts.
  *
  * Usage: `Main run <plan.json>` or `Main dump-oracles <out.json>`.
  */
object Main {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val code =
      try args match {
        case Array("dump-oracles", out) => dumpOracles(out); 0
        case Array("run", plan) => new Client(json.readTree(Path.of(plan).toFile)).run()
        case _ =>
          System.err.println("usage: Main run <plan.json> | Main dump-oracles <out.json>")
          2
      } catch {
        // a setup failure ends the process with a non-zero code, even if
        // a Spark thread would otherwise keep the JVM alive
        case t: Throwable => t.printStackTrace(); 1
      }
    System.exit(code)
  }

  /** The DuckDB twins of every query, plus the user-graph CTE text. */
  private def dumpOracles(out: String): Unit = {
    val root = json.createObjectNode()
    val sql = root.putObject("oracles")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => sql.put(k, v) }
    root.put("user_edges_cte", TradeGraph.sqlUserEdges)
    Files.writeString(Path.of(out), json.writeValueAsString(root))
  }
}

final case class Version(dir: String, expected: String, tables: Seq[String])

final case class QueryRun(id: Int, name: String, family: String, round: Int,
    span: Span, build: Span, plan: Option[Span], exec: Option[Span],
    rows: Long, error: Option[String])

final class Client(plan: JsonNode) {
  private val json = new ObjectMapper()
  private def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  private val nproc = plan.get("nproc").asInt
  private val traced = plan.get("trace").asBoolean
  private val live = plan.get("live_dir").asText
  private val families: Map[String, String] =
    plan.get("families").fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private val versions: IndexedSeq[Version] = plan.get("versions").elements.asScala
    .map(v => Version(v.get("dir").asText, v.get("expected").asText, strings(v.get("tables"))))
    .toIndexedSeq

  private val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private def newId(): Int = { nextId += 1; nextId }
  private def span(parent: Int, query: Int, name: String, t0: Long, t1: Long): Span = {
    val s = Span(newId(), parent, query, name, t0, t1)
    spans += s
    s
  }

  private var spark: SparkSession = _
  private var counter: Option[JobCounter] = None
  private val expectedCache = scala.collection.mutable.Map[(Int, String), Rows.Table]()
  private var checkNs = 0L
  private var checkCpuNs = 0L
  private val threads = ManagementFactory.getThreadMXBean

  /** Runs the plan; the record is written after the session stops, and
    * also when stopping it throws. */
  def run(): Int = {
    val out = json.createObjectNode()
    try execute(out)
    finally {
      try if (spark != null) spark.stop()
      catch { case NonFatal(e) => out.put("stop_error", e.toString) }
    }
    Files.writeString(Path.of(plan.get("record").asText), json.writeValueAsString(out))
    0
  }

  private def execute(out: ObjectNode): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) {
      val c = new JobCounter
      spark.sparkContext.addSparkListener(c)
      counter = Some(c)
    }
    out.put("jvm", System.getProperty("java.version"))
    out.put("spark", spark.version)
    out.put("local_max_edges", graft.graph.PathFinder.localMaxEdges)

    phase("setup")
    val setup = out.putObject("setup_parts_s")
    setup.put("session", (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val swapSpans = ArrayBuffer[Span]()
    swapSpans += swap(0, 0)
    val w0 = System.nanoTime()
    warmup()
    setup.put("warmup", (System.nanoTime() - w0) / 1e9)
    var current = plan.get("untimed_version").asInt
    if (current != 0) swapSpans += swap(current, 0)
    val f0 = System.nanoTime()
    val firstContact = strings(plan.get("first_contact")).map(q => runQuery(q, current, -1, 0))
    setup.put("first_contact", (System.nanoTime() - f0) / 1e9)
    val p0 = System.nanoTime()
    val warm = strings(plan.get("warm")).map(q => runQuery(q, current, -1, 0))
    setup.put("warm_passes", (System.nanoTime() - p0) / 1e9)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    drain()
    val cpu0 = processCpuNs
    val gc0 = gcMs
    val tasks0 = counter.map(_.total)
    checkNs = 0L
    checkCpuNs = 0L
    val t0 = System.nanoTime()
    val timed = ArrayBuffer[QueryRun]()
    // past the soft deadline no new round starts, so a slow engine still
    // yields the rounds it finished instead of being killed mid-run
    val deadlineMs = plan.get("soft_deadline_ms").asLong
    val rounds = plan.get("rounds").elements.asScala.toIndexedSeq
    var done = 0
    while (done < rounds.size && (done == 0 || System.currentTimeMillis() < deadlineMs)) {
      val ri = done
      val r = rounds(ri)
      phase(s"round ${ri + 1} of ${rounds.size}")
      val roundStart = System.nanoTime()
      val roundId = newId()
      val v = r.get("version").asInt
      if (v != current) { swapSpans += swap(v, roundId); current = v }
      strings(r.get("queries")).foreach(q => timed += runQuery(q, v, ri, roundId))
      spans += Span(roundId, 0, 0, s"round$ri", roundStart, System.nanoTime())
      done += 1
    }
    val wallS = (System.nanoTime() - t0 - checkNs) / 1e9
    phase("teardown")
    drain()
    val driverCpuNs = processCpuNs - cpu0 - checkCpuNs
    val gcS = (gcMs - gc0) / 1000.0

    out.put("setup_s", setupS)
    out.put("wall_s", wallS)
    out.put("rounds_done", done)
    out.put("check_s", checkNs / 1e9)
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    val qs = out.putArray("queries")
    timed.foreach(q => qs.add(queryJson(q)))
    val fc = out.putArray("first_contact")
    firstContact.foreach(q => fc.add(queryJson(q)))
    val wa = out.putArray("warm")
    warm.foreach(q => wa.add(queryJson(q)))
    val sw = out.putArray("swaps_s")
    swapSpans.foreach(s => sw.add(s.seconds))
    counter.foreach { c =>
      val layers = out.putObject("layers")
      layerMetrics(c, timed.toSeq, swapSpans.toSeq, tasks0.get, driverCpuNs, gcS,
        storageMb).foreach { case (k, v) => layers.put(k, v) }
      writeSpans(c, t0)
    }
  }

  /** Graph registration, with no error swallowed: a setup failure aborts
    * the run. `events` is opened through `TradeGraph.events` first, which
    * sets the reader option nanosecond timestamps need. */
  private def warmup(): Unit = {
    TradeGraph.events(spark, live)
    TradeGraph.graft(spark, live)
  }

  /** Publishes version `v`'s tables into the live directory (copy beside,
    * then atomic rename) and refreshes every cached plan over them. */
  private def swap(v: Int, parent: Int): Span = {
    val t0 = System.nanoTime()
    val ver = versions(v)
    Files.createDirectories(Path.of(live))
    ver.tables.foreach { t =>
      val tmp = Path.of(live, s".$t.parquet.tmp")
      Files.copy(Path.of(ver.dir, s"$t.parquet"), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Path.of(live, s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
    ver.tables.foreach(t => spark.catalog.refreshByPath(s"$live/$t.parquet"))
    span(parent, 0, s"swap$v", t0, System.nanoTime())
  }

  /** Progress line in the client's log: `run.py` names the last one when
    * the client overruns its hard deadline. */
  private def phase(p: String): Unit = println(s"[phase] $p")

  private def setTag(s: String): Unit = spark.sparkContext.setLocalProperty(Span.Key, s)

  /** One query: build (the entry-point call), plan (`executedPlan`) and
    * exec (collect every row), then the oracle check outside the clock. */
  private def runQuery(name: String, version: Int, round: Int, parent: Int): QueryRun = {
    val qid = newId()
    val buildId = newId()
    val fn = SparkEntry.queries(name)
    var planSpan: Option[Span] = None
    var execSpan: Option[Span] = None
    var error: Option[String] = None
    var rows: Array[org.apache.spark.sql.Row] = null
    var columns: Seq[String] = Nil
    val t0 = System.nanoTime()
    var tBuild = t0
    try {
      setTag(s"$buildId")
      val df = try fn(spark, live) finally tBuild = System.nanoTime()
      val planId = newId()
      setTag(s"$planId")
      df.queryExecution.executedPlan
      val tPlan = System.nanoTime()
      planSpan = Some(Span(planId, qid, qid, "plan", tBuild, tPlan))
      val execId = newId()
      setTag(s"$execId")
      try {
        rows = df.collect()
        columns = df.columns.toSeq
      } finally {
        OpCaches.releaseAll()
        execSpan = Some(Span(execId, qid, qid, "exec", tPlan, System.nanoTime()))
      }
    } catch {
      case NonFatal(e) => error = Some(s"${e.getClass.getName}: ${firstLine(e.getMessage)}")
    } finally setTag(null)
    val q = Span(qid, parent, qid, name, t0, System.nanoTime())
    val build = Span(buildId, qid, qid, "build", t0, tBuild)
    spans += q
    spans += build
    planSpan.foreach(spans += _)
    execSpan.foreach(spans += _)
    if (error.isEmpty) error = check(name, version, columns, rows)
    QueryRun(qid, name, families(name), round, q, build, planSpan, execSpan,
      if (rows == null) 0L else rows.length.toLong, error)
  }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("").take(300)

  private def check(name: String, version: Int, columns: Seq[String],
      rows: Array[org.apache.spark.sql.Row]): Option[String] = {
    val t0 = System.nanoTime()
    val c0 = threads.getCurrentThreadCpuTime
    try {
      // a query over no swapped table keeps the base version's rows
      val file = Seq(version, 0).map(v => Path.of(versions(v).expected, s"$name.json"))
        .find(Files.exists(_)).getOrElse(
          throw new IllegalStateException(s"no expected rows for $name"))
      val want = expectedCache.getOrElseUpdate((version, name),
        Rows.fromJson(json.readTree(file.toFile)))
      Rows.diff(Rows.fromSpark(columns, rows), want).map("wrong rows: " + _)
    } finally {
      checkNs += System.nanoTime() - t0
      checkCpuNs += threads.getCurrentThreadCpuTime - c0
    }
  }

  private def queryJson(q: QueryRun): ObjectNode = {
    val o = json.createObjectNode()
    o.put("q", q.name)
    o.put("family", q.family)
    o.put("round", q.round)
    o.put("wall", q.span.seconds)
    o.put("build", q.build.seconds)
    q.plan.foreach(s => o.put("plan", s.seconds))
    q.exec.foreach(s => o.put("exec", s.seconds))
    o.put("rows", q.rows)
    q.error.foreach(o.put("error", _))
    o
  }

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def drain(): Unit =
    if (counter.isDefined) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Per-layer metrics of the timed phase, from the spans and the counts
    * of the jobs launched inside them. */
  private def layerMetrics(c: JobCounter, timed: Seq[QueryRun], swaps: Seq[Span],
      tasks0: Counts, driverCpuNs: Long, gcS: Double,
      storageMb: Double): Seq[(String, Double)] = {
    def sum(ss: Seq[Span]): (Double, Counts) = {
      val k = new Counts
      ss.foreach(s => k += c.of(s.tag))
      (ss.map(_.seconds).sum, k)
    }
    val builds = Seq("compiler", "graph", "ops").flatMap { f =>
      val (s, k) = sum(timed.filter(_.family == f).map(_.build))
      Seq(s"$f.build_s" -> s, s"$f.jobs" -> k.jobs.toDouble) ++
        (if (f == "graph") Seq("graph.driver_mb" -> k.resultBytes / 1e6) else Nil)
    }
    val (planS, _) = sum(timed.flatMap(_.plan))
    val (execS, e) = sum(timed.flatMap(_.exec))
    val all = c.total
    val taskCpuNs = all.cpuNs - tasks0.cpuNs
    builds ++ Seq(
      "plan.s" -> planS,
      "exec.s" -> execS,
      "exec.jobs" -> e.jobs.toDouble,
      "exec.tasks" -> e.tasks.toDouble,
      "exec.empty_task_ratio" -> (if (e.tasks == 0) 0.0 else e.emptyTasks.toDouble / e.tasks),
      "exec.shuffle_mb" -> e.shuffleWriteBytes / 1e6,
      "exec.spill_mb" -> e.spillBytes / 1e6,
      "exec.executor_run_s" -> e.runMs / 1000.0,
      "exec.parallel_eff" -> (if (execS == 0) 0.0 else e.runMs / 1000.0 / (execS * nproc)),
      "driver.cpu_s" -> (driverCpuNs - taskCpuNs) / 1e9,
      "jvm.gc_s" -> gcS,
      "cache.storage_mb" -> storageMb,
      "refresh.swap_s" -> swaps.map(_.seconds).sum)
  }

  /** Every span of the run with its self time and job counts, relative
    * to the start of the timed phase. */
  private def writeSpans(c: JobCounter, t0: Long): Unit = {
    val children = spans.groupBy(_.parent)
    val arr = json.createArrayNode()
    spans.sortBy(_.startNs).foreach { s =>
      val covered = children.getOrElse(s.id, Nil).filter(_.id != s.id).map(_.seconds).sum
      val k = c.of(s.tag)
      val o = arr.addObject()
      o.put("id", s.id); o.put("parent", s.parent); o.put("query", s.query)
      o.put("name", s.name); o.put("start_s", (s.startNs - t0) / 1e9)
      o.put("dur_s", s.seconds); o.put("self_s", s.seconds - covered)
      o.put("jobs", k.jobs); o.put("tasks", k.tasks); o.put("empty_tasks", k.emptyTasks)
      o.put("shuffle_read_bytes", k.shuffleReadBytes)
      o.put("shuffle_write_bytes", k.shuffleWriteBytes)
      o.put("spill_bytes", k.spillBytes); o.put("executor_run_ms", k.runMs)
      o.put("result_bytes", k.resultBytes)
    }
    Files.writeString(Path.of(plan.get("spans").asText), json.writeValueAsString(arr))
  }
}
