package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Command-line arguments shared by every workload. */
final case class Args(workload: String, seed: Long, trace: Boolean,
                      work: String, inputs: String, cpus: Int, record: Option[String],
                      expected: Option[String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("trace") == "1", need("work"),
      need("inputs"), need("cpus").toInt, m.get("record"), m.get("expected"))
  }
}

/** Spans recorded around the harness's own calls into each layer.
  * Kept in memory; written out once when the run ends. With tracing
  * off, `apply` only runs the body. */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var paused = false

  /** True while spans are being recorded. */
  def on: Boolean = enabled && !paused

  /** Run `body` with recording paused: the untraced half of the
    * overhead comparison inside a traced run. */
  def without[T](body: => T): T = {
    val was = paused; paused = true
    try body finally paused = was
  }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        done += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  /** The id of the most recently closed span (to hang derived children on). */
  def lastId: Int = done.lastOption.map(_.id).getOrElse(-1)

  /** A child span whose duration is known only afterwards (Catalyst
    * phases read from the write's tracker), laid at its parent's start. */
  def child(parent: Int, name: String, ns: Long): Unit =
    if (enabled) done.find(_.id == parent).foreach { p =>
      done += Span(nextId, parent, name, p.start, p.start + ns); nextId += 1
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time per span name: duration minus the time its children cover. */
  def selfMs: Map[String, Double] = {
    val kids = done.groupBy(_.parent)
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start) -
        kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum).sum / 1e6
    }
  }

  def json: String = done.sortBy(_.id).map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}""").mkString("[", ",\n", "]")
}

/** Executed-work counters, attributed by job group. Spark's listener bus
  * is asynchronous: events for one query can arrive while the next one
  * runs, so nothing here is read before [[drain]] and every count is
  * keyed by the group the harness set before the call, never by "the
  * latest event". Catalyst phases and scan counters come from the
  * QueryExecution of each SQL execution, matched to its group through
  * the `spark.sql.execution.id` property of the jobs it ran. */
final class Counters(spark: SparkSession) extends SparkListener {
  final class G {
    var jobs = 0; var tasks = 0; var cpuNs = 0L; var shuffleBytes = 0L
    var spillBytes = 0L; val taskMs = mutable.ArrayBuffer[Long]()
    val execs = mutable.LinkedHashSet[Long]()
  }
  final case class Q(phases: Map[String, Long], scans: Int, rowsScanned: Long)
  private val groups = new ConcurrentHashMap[String, G]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val queries = new ConcurrentHashMap[Long, Q]()

  private def g(name: String): G = groups.computeIfAbsent(name, _ => new G)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val grp = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val st = g(grp)
    st.synchronized {
      st.jobs += 1
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => st.execs += id.toLong)
    }
    e.stageIds.foreach(stageGroup.put(_, grp))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val grp = Option(stageGroup.get(e.stageId)).getOrElse("")
    val m = e.taskMetrics
    val st = g(grp)
    st.synchronized {
      st.tasks += 1
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      st.taskMs += e.taskInfo.duration
    }
  }

  private object Scans extends AdaptiveSparkPlanHelper

  /** The end event of every SQL execution carries its QueryExecution; its
    * id space is not the execution id's, so the event is the only place
    * where the two meet. The field is package-private in Spark, hence the
    * reflective read. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(end.getClass.getMethod("qe").invoke(end)).foreach { q =>
        val qe = q.asInstanceOf[QueryExecution]
        val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
        val scans = Scans.collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          case b: BatchScanExec => b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }
        queries.put(end.executionId, Q(phases, scans.size, scans.sum))
      }
    case _ =>
  }

  /** Wait until every event posted before this call has been delivered:
    * run a marker job in its own group and wait for it to be counted. */
  def drain(): Unit = {
    val marker = s"drain-${System.nanoTime()}"
    withGroup(marker)(spark.range(1).write.format("noop").mode("overwrite").save())
    val t0 = System.currentTimeMillis()
    def seen = Option(groups.get(marker)).exists(st => st.synchronized(st.execs.nonEmpty)) &&
      Option(groups.get(marker)).exists(st => st.synchronized(st.execs.forall(queries.containsKey)))
    while (!seen && System.currentTimeMillis() - t0 < 30000) Thread.sleep(20)
  }

  /** Run `body` with its jobs attributed to `name`. */
  def withGroup[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try body finally sc.clearJobGroup()
  }

  def group(name: String): Option[G] = Option(groups.get(name))
  def query(execId: Long): Option[Q] = Option(queries.get(execId))
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }
  /** Heap in use after a full GC, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
  /** Storage memory held by cached and checkpointed blocks, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  /** Host calibration, the same loop and shuffle shapes as graft.Bench:
    * recorded beside the per-layer numbers, never folded into them. */
  def calibrate(spark: SparkSession): (Double, Double) = {
    def cpuOnce(): Double = {
      val t0 = System.nanoTime()
      var h = 0xcbf29ce484222325L; var i = 0L
      while (i < 200000000L) { h = (h ^ i) * 0x100000001b3L; i += 1 }
      if (h == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    def shuffleOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, 32).selectExpr("id % 1024 AS k").groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    shuffleOnce()
    ((1 to 3).map(_ => cpuOnce()).min, (1 to 3).map(_ => shuffleOnce()).min)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

object Fs {
  def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }
  def filesUnder(path: String, suffix: String): Int = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.count(f => f.toString.endsWith(suffix)) finally s.close()
    }
  }
}

/** What one run measured, handed to run.py as one JSON line. Times are
  * raw samples; run.py turns them into the reported metrics. */
final class Result(val workload: String) {
  var setupS = 0.0
  var workS = 0.0
  val ops = mutable.ArrayBuffer[(String, Double)]()
  var spaceBytes = 0L
  var plainBytes = 0L
  var heapMb = 0.0
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val layers = mutable.LinkedHashMap[String, Double]()
  var spansFile = ""
  var selfMs: Map[String, Double] = Map.empty

  def op(kind: String, ms: Double): Unit = { ops += kind -> ms; attempted += 1 }
  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    checks += ((what, false, Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))
  }
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
  }

  def json: String = Json.obj(Seq(
    "workload" -> Json.str(workload),
    "setup_s" -> Json.num(setupS),
    "work_s" -> Json.num(workS),
    "ops" -> ops.map { case (k, v) => s"[${Json.str(k)},${Json.num(v)}]" }.mkString("[", ",", "]"),
    "space_bytes" -> spaceBytes.toString,
    "plain_bytes" -> plainBytes.toString,
    "heap_mb" -> Json.num(heapMb),
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "checks" -> checks.map { case (n, ok, d) =>
      Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
    }.mkString("[", ",", "]"),
    "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
    "self_ms" -> Json.obj(selfMs.toSeq.sortBy(-_._2).map { case (k, v) => k -> Json.num(v) }),
    "spans_file" -> Json.str(spansFile)))
}

object Stat {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** Entry point: `perfbench.Main --workload w --seed n --trace 0|1
  * --work dir --inputs dir --cpus n [--expected file] [--record file]`. */
object Main {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a)
    val counters = new Counters(spark)
    spark.sparkContext.addSparkListener(counters)
    val trace = new Trace(a.trace)
    val res = new Result(a.workload)
    val gc0 = Jvm.gcMs
    val cg0 = Jvm.codegenMs
    a.workload match {
      case "sweep_sf01" => new Sweep(spark, a, trace, counters, res).run()
      case "weather_daily" => new WeatherDaily(spark, a, trace, counters, res).run()
      case "txn_churn" => new TxnChurn(spark, a, trace, counters, res).run()
      case w => sys.error(s"unknown workload $w")
    }
    if (a.trace) {
      res.layers("jvm.gc_ms") = (Jvm.gcMs - gc0).toDouble
      res.layers("jvm.codegen_ms") = Jvm.codegenMs - cg0
      val (cpu, sh) = Jvm.calibrate(spark)
      res.layers("host.cal_cpu_s") = cpu
      res.layers("host.cal_shuffle_s") = sh
      res.selfMs = trace.selfMs
      res.spansFile = s"${a.work}/spans.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(res.spansFile),
        trace.json.getBytes("UTF-8"))
    }
    res.heapMb = Jvm.retainedHeapMb()
    println("PERFBENCH_RESULT " + res.json)
    spark.stop()
  }
}
