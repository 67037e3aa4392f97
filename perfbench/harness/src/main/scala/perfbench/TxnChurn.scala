package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.TxnTable

/** `txn_churn`: one transactional table loaded from the sweep's lineitem,
  * then driven by the seeded op log: keyed merges, bounded deletes,
  * merge-on-read key deletes, SQL MERGE/UPDATE/DELETE through a graft
  * catalog, compaction and vacuum, beside pruned, point, time-travel and
  * metadata-only reads skewed toward recent keys. Every run applies the
  * whole log (gen.py writes two blocks), whatever the run's `--seconds`.
  * Every read is checked against the op log's plain-Python replay; at
  * the end so are the final content and a sample of time-travel
  * versions. */
final class TxnChurn(spark: SparkSession, a: Args, trace: Trace, c: Counters, res: Result) {
  private val src = s"${a.inputs}/txn"
  private val log = Json.read(s"$src/oplog.json")
  private val ops = log.path("ops").elements().asScala.toSeq
  private val cat = "bench_cat"
  private val wh = s"${a.work}/txn_wh"
  private val keyCols = Seq("l_orderkey", "l_linenumber")
  private lazy val schema = spark.read.parquet(s"$src/base.parquet").schema

  private def changes(op: JsonNode): DataFrame =
    spark.read.schema(schema).parquet(s"$src/${op.path("file").asText}")

  /** The signature gen.py's replay computes: rows and the sum of a crc32
    * per row over its integer-coded columns. */
  private def signature(df: DataFrame): (Long, Long) = {
    val cents = (n: String) => round(col(n) * 100).cast("long")
    val row = concat_ws("|", col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), cents("l_quantity"), cents("l_extendedprice"),
      cents("l_discount"), cents("l_tax"), col("l_returnflag"), col("l_linestatus"),
      unix_micros(col("l_shipdate").cast("timestamp")))
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(row.cast("binary"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private val writeKinds = Set("append", "merge", "delete", "delete_mor", "sql_update",
    "sql_delete", "sql_merge", "compact", "vacuum")
  private val timings = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private def timed[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try trace(layer)(body)
    finally timings.getOrElseUpdate(layer, mutable.ArrayBuffer()) += Stat.ms(t0)
  }

  /** Apply one op to the table named `t`; returns the row count a read
    * returned, or -1 for writes. */
  private def apply(t: String, op: JsonNode, versionOf: Long => Long): Long = {
    val root = s"$wh/db/$t"
    def lo = op.path("lo").asLong
    def hi = op.path("hi").asLong
    op.path("kind").asText match {
      case "append" => timed("sinks.txn_append")(TxnTable.append(spark, root, changes(op))); -1
      case "merge" => timed("sinks.txn_merge")(
        TxnTable.mergeInto(spark, root, changes(op), keyCols, Some((lo, hi)))); -1
      case "delete" => timed("sinks.txn_delete")(
        TxnTable.deleteWhere(spark, root, col("l_orderkey").between(lo, hi), Some((lo, hi)))); -1
      case "delete_mor" =>
        import spark.implicits._
        val keys = op.path("keys").elements().asScala.map(_.asLong).toSeq.toDF("l_orderkey")
        timed("sinks.txn_delete_mor")(TxnTable.deleteKeysMor(spark, root, "l_orderkey", keys))
        // raw-file reads and writes refuse while merge-on-read deletes are
        // live, so the op folds them in before the next op
        timed("sinks.txn_compact_deletes")(TxnTable.compactDeletes(spark, root)); -1
      case "sql_update" => timed("sources.sql_dml")(spark.sql(
        s"UPDATE $cat.db.$t SET l_quantity = l_quantity + 1 WHERE l_orderkey BETWEEN $lo AND $hi")); -1
      case "sql_delete" => timed("sources.sql_dml")(spark.sql(
        s"DELETE FROM $cat.db.$t WHERE l_orderkey BETWEEN $lo AND $hi")); -1
      case "sql_merge" =>
        changes(op).createOrReplaceTempView("bench_changes")
        timed("sources.sql_dml")(spark.sql(
          s"""MERGE INTO $cat.db.$t t USING bench_changes s
             |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
             |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)); -1
      case "compact" => timed("sinks.txn_compact")(
        TxnTable.compactTxn(spark, root, op.path("files").asInt, Seq("l_orderkey"))); -1
      case "vacuum" => timed("sinks.txn_vacuum")(
        TxnTable.vacuum(spark, root, op.path("retain").asInt, graceMs = 0L)); -1
      case "read_pruned" => timed("sinks.txn_read_pruned") {
        val df = TxnTable.readPruned(spark, root, "l_orderkey", lo, hi)
        if (trace.on) filesRead += df.inputFiles.length.toDouble / snapshotFiles(root)
        df.filter(col("l_orderkey").between(lo, hi)).count()
      }
      case "point_lookup" => timed("sinks.txn_point_lookup") {
        val k = op.path("key").asLong
        val df = TxnTable.readPointLookup(spark, root, "l_orderkey", k)
        if (trace.on) filesRead += df.inputFiles.length.toDouble / snapshotFiles(root)
        df.filter(col("l_orderkey") === k).count()
      }
      case "as_of" => timed("sinks.txn_time_travel")(
        TxnTable.readAsOf(spark, root, versionOf(op.path("at").asLong)).count())
      case "meta_count" => timed("sinks.txn_meta_count")(
        TxnTable.metaCount(spark, root).getOrElse(-2L))
    }
  }

  private val filesRead = mutable.ArrayBuffer[Double]()
  private def snapshotFiles(root: String): Double =
    math.max(1, TxnTable.latest(spark, root).map(_.files.size).getOrElse(1)).toDouble

  private def load(t: String, base: DataFrame): Unit =
    TxnTable.append(spark, s"$wh/db/$t", base.repartitionByRange(8, col("l_orderkey")),
      statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))

  def run(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val base = spark.read.parquet(s"$src/base.parquet")
    // warm pass against a small table: the first op of the kinds whose
    // code paths are the largest (keyed merge, SQL row-level, merge-on-read)
    load("warm", base.filter(col("l_orderkey") < 500))
    val warmKinds = Set("merge", "sql_merge", "sql_update", "delete_mor")
    val firstOfKind = ops.filter(op => warmKinds(op.path("kind").asText))
      .groupBy(_.path("kind").asText).values.map(_.head).toSeq.sortBy(_.path("i").asInt)
    val warmVersion = TxnTable.latest(spark, s"$wh/db/warm").get.version
    firstOfKind.foreach(op => apply("warm", op, _ => warmVersion))
    timings.clear()
    res.setupS = (System.currentTimeMillis() - Main.jvmStartMs) / 1000.0

    val root = s"$wh/db/t"
    val start = System.nanoTime()
    trace("phase:load")(load("t", base))
    val loaded = TxnTable.latest(spark, root).get.version
    val versions = mutable.LinkedHashMap[Long, Long](-1L -> loaded)
    val rewritten = mutable.ArrayBuffer[Double]()
    val added = mutable.ArrayBuffer[(Long, Long)]() // bytes added, user bytes changed
    val groups = mutable.ArrayBuffer[String]()
    val byTrace = mutable.ArrayBuffer[(String, Boolean, Double)]()
    ops.zipWithIndex.foreach { case (op, i) =>
      val kind = op.path("kind").asText
      // a traced run alternates traced and untraced ops: the per-kind
      // ratio of their latencies is the tracing overhead
      val traced = trace.enabled && i % 2 == 0
      val before = if (traced && writeKinds(kind)) TxnTable.latest(spark, root) else None
      val t0 = System.nanoTime()
      def call(): Long = trace(s"op:$kind") {
        if (trace.on) c.withGroup(s"op|$i")(apply("t", op, versions)) else apply("t", op, versions)
      }
      try {
        val got = if (traced || !trace.enabled) call() else trace.without(call())
        val ms = Stat.ms(t0)
        res.op(kind, ms)
        byTrace += ((kind, traced, ms))
        if (traced) groups += s"op|$i"
        if (!writeKinds(kind)) {
          val want = if (kind == "meta_count") op.path("count").asLong else op.path("rows").asLong
          res.check(s"$kind:$i", got == want, s"read $got rows, replay has $want")
        }
        versions(i.toLong) = TxnTable.latest(spark, root).get.version
        before.foreach { b =>
          val after = TxnTable.latest(spark, root).get
          val gone = b.files.toSet -- after.files
          rewritten += gone.size.toDouble
          if (op.has("bytes")) added += ((
            (after.files.toSet -- b.files).toSeq.map(f => Fs.bytesUnder(s"$root/$f")).sum,
            op.path("bytes").asLong))
        }
      } catch { case scala.util.control.NonFatal(e) => res.attempted += 1; res.fail(s"$kind:$i", e) }
    }
    res.workS = Stat.ms(start) / 1000.0

    // final content and sampled time travel against the replay
    val last = ops.last
    val fin = signature(TxnTable.read(spark, root))
    res.check("final_content", fin == ((last.path("count").asLong, last.path("sig").asLong)),
      s"table $fin, replay (${last.path("count").asLong}, ${last.path("sig").asLong})")
    val live = TxnTable.versions(spark, root).toSet
    val rnd = new scala.util.Random(a.seed)
    val sample = rnd.shuffle(ops.indices.filter(j => live.contains(versions(j.toLong)))).take(3)
    sample.foreach { j =>
      val s = signature(TxnTable.readAsOf(spark, root, versions(j.toLong)))
      res.check(s"time_travel:$j", s == ((ops(j).path("count").asLong, ops(j).path("sig").asLong)),
        s"version ${versions(j.toLong)}: $s")
    }

    res.spaceBytes = Fs.bytesUnder(root)
    val plain = s"${a.work}/plain"
    TxnTable.read(spark, root).coalesce(1).write.parquet(plain)
    res.plainBytes = Fs.bytesUnder(plain)
    if (trace.enabled) {
      layers(root, groups.toSeq, rewritten.toSeq, added.toSeq)
      val ratios = byTrace.groupBy(_._1).values.flatMap { xs =>
        val (on, off) = xs.partition(_._2)
        if (on.isEmpty || off.isEmpty) None
        else Some(Stat.median(on.map(_._3).toSeq) / Stat.median(off.map(_._3).toSeq))
      }
      res.layers("trace.overhead_share") = Stat.median(ratios.toSeq) - 1
    }
  }

  private def layers(root: String, groups: Seq[String], rewritten: Seq[Double],
                     added: Seq[(Long, Long)]): Unit = {
    c.drain()
    def med(k: String) = Stat.median(timings.getOrElse(k, mutable.ArrayBuffer()).toSeq)
    Seq("append", "merge", "delete", "delete_mor", "compact", "vacuum", "read_pruned",
      "point_lookup", "time_travel", "meta_count").foreach(k =>
      res.layers(s"sinks.txn_${k}_ms") = med(s"sinks.txn_$k"))
    res.layers("sources.sql_dml_ms") = med("sources.sql_dml")
    res.layers("sinks.txn_manifest_bytes") = Fs.bytesUnder(s"$root/_txn").toDouble
    res.layers("sinks.txn_files_rewritten") =
      if (rewritten.isEmpty) 0.0 else rewritten.sum / rewritten.size
    // one writer: a commit never loses a race, and the table keeps its
    // retry count internal
    res.layers("sinks.txn_commit_retries") = 0.0
    res.layers("sinks.txn_files_read_ratio") = Stat.median(filesRead.toSeq)
    res.layers("sinks.txn_write_amp") =
      if (added.isEmpty) 0.0 else added.map(_._1).sum.toDouble / added.map(_._2).sum
    val snap = TxnTable.latest(spark, root).get
    res.layers("sinks.txn_live_files") = snap.files.size.toDouble
    res.layers("sinks.txn_versions") = TxnTable.versions(spark, root).size.toDouble
    Exec.perOp(c, groups, res)
  }
}
