package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Layer-level executed work of one job group (one timed call). */
final case class Exec(jobs: Double, tasks: Double, cpuMs: Double, shuffleBytes: Double,
                      spillBytes: Double, scans: Double, rowsScanned: Double,
                      skew: Double, phases: Map[String, Long])

object Exec {
  val zero: Exec = Exec(0, 0, 0, 0, 0, 0, 0, 0, Map.empty)

  def of(c: Counters, group: String): Exec = c.group(group).fold(zero) { g =>
    g.synchronized {
      val qs = g.execs.toSeq.flatMap(c.query)
      val t = g.taskMs.map(_.toDouble).toSeq
      val med = Stat.median(t)
      Exec(g.jobs, g.tasks, g.cpuNs / 1e6, g.shuffleBytes.toDouble, g.spillBytes.toDouble,
        qs.map(_.scans).sum.toDouble, qs.map(_.rowsScanned).sum.toDouble,
        if (med > 0) t.max / med else 1.0,
        qs.flatMap(_.phases).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum })
    }
  }

  /** exec.* per timed operation: the mean over the given groups. */
  def perOp(c: Counters, groups: Seq[String], res: Result): Unit = {
    val es = groups.map(of(c, _))
    def mean(f: Exec => Double) = if (es.isEmpty) 0.0 else es.map(f).sum / es.size
    res.layers("exec.jobs") = mean(_.jobs)
    res.layers("exec.tasks") = mean(_.tasks)
    res.layers("exec.scans") = mean(_.scans)
    res.layers("exec.rows_scanned") = mean(_.rowsScanned)
    res.layers("exec.shuffle_bytes") = mean(_.shuffleBytes)
    res.layers("exec.spill_bytes") = mean(_.spillBytes)
    res.layers("exec.cpu_ms") = mean(_.cpuMs)
    res.layers("exec.task_skew") = Stat.median(es.filter(_.tasks > 0).map(_.skew))
  }
}

/** `sweep_sf01`: the benched query panel over the fixed generated tables.
  *
  * The harness builds the same query union as graft.Bench and refuses to
  * run if it has drifted (the count, or a bench variant without a base
  * query). One run cannot afford all 135 queries (one warm pass takes
  * tens of seconds on four cores, before the warm-up), so it times a
  * fixed panel across the query modules in a fixed number of passes
  * (see [[Sweep.passes]]); `--seed` orders each pass.
  */
final class Sweep(spark: SparkSession, a: Args, trace: Trace, c: Counters, res: Result) {
  private val dir = s"${a.inputs}/tables"

  /** The union graft.Bench times: base queries with bench variants on top. */
  def union: Map[String, (SparkSession, String) => DataFrame] = {
    val variants = Seq(
      graft.queries.Relational.benchVariants, graft.queries.LlmOps.benchVariants,
      graft.queries.TextOps.benchVariants, graft.queries.Sessions.benchVariants,
      graft.queries.ZOrder.benchVariants, graft.queries.Txn.benchVariants,
      graft.queries.Materialized.benchVariants, graft.multimodal.Multimodal.benchVariants,
      graft.ml.QualityFilter.benchVariants)
    val base = SparkEntry.queries
    val orphan = variants.flatMap(_.keys).filterNot(base.contains)
    require(orphan.isEmpty, s"registry drift: bench variants without a query: $orphan")
    val all = variants.foldLeft(base)(_ ++ _)
    require(all.size == Sweep.RegistrySize,
      s"registry drift: ${all.size} benched queries, expected ${Sweep.RegistrySize}")
    all
  }

  private def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(): Unit = {
    val all = union
    val missing = Sweep.Panel.filterNot(all.contains)
    require(missing.isEmpty, s"panel queries not in the registry: $missing")
    val panel = Sweep.Panel.map(q => q -> all(q))
    val refused = mutable.Set[String]()
    // warm pass: JIT, codegen and the build-once artifacts; the guard-rail
    // gate refuses a hazardous plan before it is ever timed
    panel.foreach { case (q, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, dir)
        val hz = graft.plans.GuardRails.gate(q, df)
        if (hz.nonEmpty) {
          refused += q
          res.check(s"gate:$q", ok = false, hz.map(h => s"[${h.kind}] ${h.detail}").mkString("; "))
        } else materialize(df)
      } catch { case scala.util.control.NonFatal(e) => refused += q; res.fail(s"warm:$q", e) }
      System.err.println(f"perfbench warm $q ${Stat.ms(t0)}%.0f ms")
    }
    res.setupS = (System.currentTimeMillis() - Main.jvmStartMs) / 1000.0

    val rnd = new scala.util.Random(a.seed)
    val timed = panel.filterNot(p => refused.contains(p._1))
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val writeSpans = mutable.ArrayBuffer[(String, Int, Int)]() // query, pass, span id
    val persisted = mutable.ArrayBuffer[Double]()
    val storage = mutable.ArrayBuffer[Double]()
    val passMs = mutable.ArrayBuffer[(Option[Boolean], Double)]() // traced half, timed ms
    Sweep.passes(trace.enabled).zipWithIndex.foreach { case (half, pass) =>
      val traced = trace.enabled && half.getOrElse(true)
      var passTimed = 0.0
      def body(): Unit = trace("pass") {
        rnd.shuffle(timed).foreach { case (q, fn) =>
          try {
            // timed as graft.Bench times it: construction plus the write;
            // the guard-rail gate runs in every pass, outside the timing
            var ms = 0.0
            trace("query") {
              val t0 = System.nanoTime()
              val df = trace("construct") { grp(s"c|$q|$pass")(fn(spark, dir)) }
              ms += Stat.ms(t0)
              trace("gate") { graft.plans.GuardRails.gate(q, df) }
              val t1 = System.nanoTime()
              trace("write") { grp(s"w|$q|$pass")(materialize(df)) }
              ms += Stat.ms(t1)
              if (trace.on) writeSpans += ((q, pass, trace.lastId))
            }
            res.op(q, ms)
            passTimed += ms
            perQuery.getOrElseUpdate(q, mutable.ArrayBuffer()) += ms
          } catch { case scala.util.control.NonFatal(e) => res.attempted += 1; res.fail(q, e) }
          if (trace.on) {
            persisted += spark.sparkContext.getPersistentRDDs.size.toDouble
            storage += Jvm.storageMb(spark)
          }
        }
      }
      if (traced) body() else trace.without(body())
      passMs += ((half, passTimed))
    }
    res.workS = perQuery.values.map(v => Stat.median(v.toSeq)).sum / 1000.0
    if (trace.enabled) {
      layers(writeSpans.toSeq, persisted.toSeq, storage.toSeq)
      val (on, off) = passMs.filter(_._1.isDefined).partition(_._1.contains(true))
      res.layers("trace.overhead_share") =
        Stat.median(on.map(_._2).toSeq) / Stat.median(off.map(_._2).toSeq) - 1
    }
    checks(timed)
    res.spaceBytes = Fs.bytesUnder(s"${a.work}/warehouse")
    res.plainBytes = graft.Tables.all.map(t => Fs.bytesUnder(s"$dir/$t.parquet")).sum
  }

  private def grp[T](name: String)(body: => T): T =
    if (trace.on) c.withGroup(name)(body) else body

  private def layers(writes: Seq[(String, Int, Int)],
                     persisted: Seq[Double], storage: Seq[Double]): Unit = {
    c.drain()
    def spanMs(id: Int) = trace.spans.find(_.id == id).map(s => (s.end - s.start) / 1e6).getOrElse(0.0)
    // per query: the median over passes; per-layer figures are the sum
    // over the panel, i.e. per pass
    val byQ = writes.groupBy(_._1)
    def perPass(f: (String, Int, Int) => Double): Double =
      byQ.values.map(ws => Stat.median(ws.map { case (q, p, id) => f(q, p, id) })).sum
    val phaseKey = Map("analysis" -> "catalyst.analysis_ms",
      "optimization" -> "catalyst.optimize_ms", "planning" -> "catalyst.plan_ms")
    writes.foreach { case (q, p, id) =>
      val e = Exec.of(c, s"w|$q|$p")
      phaseKey.keys.foreach(k => trace.child(id, k, e.phases.getOrElse(k, 0L) * 1000000L))
    }
    val spans = trace.spans
    val byParent = spans.groupBy(_.parent)
    def childMs(writeId: Int, name: String): Double = {
      val q = spans.find(_.id == writeId).map(_.parent).getOrElse(-1)
      byParent.getOrElse(q, Nil).filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum
    }
    val construct = perPass((_, _, id) => childMs(id, "construct"))
    val total = perPass((_, _, id) => spans.find(_.id == id).map(_.parent)
      .flatMap(pid => spans.find(_.id == pid)).map(s => (s.end - s.start) / 1e6).getOrElse(0.0))
    res.layers("queries.construct_ms") = construct
    res.layers("queries.construct_share") = if (total > 0) construct / total else 0.0
    res.layers("queries.construct_jobs") = perPass((q, p, _) => Exec.of(c, s"c|$q|$p").jobs)
    res.layers("plans.gate_ms") = perPass((_, _, id) => childMs(id, "gate"))
    phaseKey.foreach { case (k, m) =>
      res.layers(m) = perPass((q, p, _) => Exec.of(c, s"w|$q|$p").phases.getOrElse(k, 0L).toDouble)
    }
    res.layers("exec.ms") = perPass { (q, p, id) =>
      spanMs(id) - Exec.of(c, s"w|$q|$p").phases.filter(kv => phaseKey.contains(kv._1)).values.sum
    }
    res.layers("exec.jobs") = perPass((q, p, _) => Exec.of(c, s"w|$q|$p").jobs)
    res.layers("exec.tasks") = perPass((q, p, _) => Exec.of(c, s"w|$q|$p").tasks)
    res.layers("exec.scans") = perPass((q, p, _) => Exec.of(c, s"w|$q|$p").scans)
    res.layers("exec.rows_scanned") = perPass((q, p, _) => Exec.of(c, s"w|$q|$p").rowsScanned)
    res.layers("exec.shuffle_bytes") = perPass((q, p, _) => Exec.of(c, s"w|$q|$p").shuffleBytes)
    res.layers("exec.spill_bytes") = perPass((q, p, _) => Exec.of(c, s"w|$q|$p").spillBytes)
    res.layers("exec.cpu_ms") = perPass((q, p, _) => Exec.of(c, s"w|$q|$p").cpuMs)
    res.layers("exec.task_skew") = Stat.median(writes.map { case (q, p, _) =>
      Exec.of(c, s"w|$q|$p") }.filter(_.tasks > 0).map(_.skew))
    res.layers("exec.persisted_after") = if (persisted.isEmpty) 0.0 else persisted.max
    res.layers("exec.storage_peak_mb") = if (storage.isEmpty) 0.0 else storage.max
    // table resolution, probed directly: one Tables.t call per table
    val probes = graft.Tables.all.map { t =>
      val runs = (0 until 3).map { i =>
        val t0 = System.nanoTime()
        c.withGroup(s"t|$t|$i")(graft.Tables.t(spark, dir, t))
        Stat.ms(t0)
      }
      t -> Stat.median(runs)
    }
    c.drain()
    res.layers("tables.resolve_ms") = Stat.median(probes.map(_._2))
    res.layers("tables.resolve_jobs") = Stat.median(graft.Tables.all.flatMap(t =>
      (0 until 3).map(i => Exec.of(c, s"t|$t|$i").jobs)))
  }

  /** Rows plus an order-insensitive content hash per query, against the
    * recorded expectation (checked once against the DuckDB oracle). */
  private def checks(timed: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val expected = a.expected.map(Json.read)
    val recorded = mutable.ArrayBuffer[(String, String)]()
    timed.foreach { case (q, fn) =>
      try {
        val (rows, hash) = rowsAndHash(fn(spark, dir))
        recorded += q -> Json.obj(Seq("rows" -> rows.toString,
          "hash" -> hash.fold("null")(Json.str)))
        expected.foreach { ex =>
          val e = ex.path("queries").path(q)
          if (e.isMissingNode) res.check(s"expected:$q", ok = false, "no expectation recorded")
          else {
            res.check(s"rows:$q", e.path("rows").asLong == rows,
              s"rows $rows, expected ${e.path("rows").asLong}")
            if (!e.path("hash").isNull)
              res.check(s"hash:$q", hash.contains(e.path("hash").asText),
                s"hash $hash, expected ${e.path("hash").asText}")
          }
        }
      } catch { case scala.util.control.NonFatal(e) => res.attempted += 1; res.fail(s"check:$q", e) }
    }
    a.record.foreach { path =>
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        Json.obj(recorded).getBytes("UTF-8"))
    }
  }

  /** Row count and the sum of per-row xxhash64 values modulo a prime:
    * independent of row order and partitioning. The hash is None when a
    * column type cannot be hashed. */
  private def rowsAndHash(df: DataFrame): (Long, Option[String]) =
    try {
      val h = pmod(xxhash64(df.columns.toIndexedSeq.map(n => col(s"`$n`")): _*), lit(2147483647L))
      val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
      (r.getLong(0), Some(r.getLong(1).toString))
    } catch { case scala.util.control.NonFatal(_) => (df.count(), None) }
}

object Sweep {
  /** The passes of a run. Untraced: three. Traced: which passes record
    * spans, or None for a pass left out of the overhead comparison: the
    * first pass (leftover warm-up), then traced and untraced passes in
    * the pattern ABBA, so a steady drift weighs on both halves alike. */
  def passes(traced: Boolean): Seq[Option[Boolean]] =
    if (traced) Seq(None, Some(true), Some(false), Some(false), Some(true))
    else Seq.fill(3)(None)

  /** graft.Bench's union size at the parent commit. */
  val RegistrySize = 135

  /** Eight queries from the Relational, LlmOps, TextOps and Bucketed
    * modules. q113 has no oracle and is checked on rows only. */
  val Panel: Seq[String] = Seq(
    "q01_pricing_summary", "q02_latest_per_key", "q05_regional_revenue", "q28_sql_entry",
    "q22_exact_dedup", "q34_token_count", "q113_comp_ratio", "q41_bucketed_join")
}
