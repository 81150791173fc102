package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Result of one op: whether its output matched the reference answer and
  * how many rows (or documents) it processed, for `rows_per_s`. */
final case class OpResult(ok: Boolean, rows: Long = 0L, outRows: Long = -1L) {
  /** Rows the op returned (defaults to `rows`). */
  def out: Long = if (outRows >= 0) outRows else rows
}

/** One client request. `write` ops commit; the rest are reads. `desc`
  * names the op and its parameters for the work fingerprint. */
final case class Op(kind: String, write: Boolean, desc: String, body: () => OpResult)

/** Shared services handed to workloads. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val plantWrong: Boolean,
                val tiny: Boolean, val seed: Long) {

  /** Catalog SQL through `spark.sql`: parse, analysis and (for DML) the
    * commit happen before the call returns. */
  def sql(q: String): DataFrame = tracer.span("catalog.sql_construct")(spark.sql(q))

  /** Order-independent fingerprint of a frame's rows, observed during the
    * same execution that materializes it. */
  def checksum(df: DataFrame): (DataFrame, Observation) = {
    val o = Observation()
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    (df.observe(o, count(lit(1)).as("n"), sum(h.bitwiseAND(0x7fffffffL)).as("h")), o)
  }

  /** Materialize through the noop sink (every column, every row). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A planted wrong answer drops a slice of rows from a read's result. */
  def plant(df: DataFrame): DataFrame =
    if (plantWrong) df.where(pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*), lit(7L)) =!= 0)
    else df
}

object Ctx {
  def sumOf(o: Observation): (Long, Long) = {
    val r = o.get
    (r("n").asInstanceOf[Long], Option(r("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }
}

/** A closed-loop workload: built by [[setup]], then driven one op at a time
  * by [[Main]]'s single client thread. */
trait Workload {
  /** Build warehouse, tables, indexes and reference answers under `dir`.
    * Runs several times; the last build is the one the loop uses. */
  def setup(dir: Path): Unit
  /** Fingerprint of the generated inputs (stable per seed). */
  def inputsFingerprint: String
  /** The next block of ops; each block holds the workload's op mix once,
    * and the loop stops only at block ends, so every run does whole mixes. */
  def nextBlock(rng: scala.util.Random): Seq[Op]
  /** Untimed bookkeeping after each op (byte accounting, traced probes). */
  def afterOp(op: Op, opId: Long, traced: Boolean): Unit = ()
  /** End-of-run metrics: space_amp, write_amp, recall, and any extra
    * write latencies (setup commits of a read-only loop). */
  def finish(): Map[String, Double]
  def extraWriteLatencies: Seq[Double] = Nil
}

object Main {

  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val tiny = a("scale") == "tiny"
    val dir = Paths.get(a("dir"))
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("local-dir"))
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", dir.resolve("wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val tracer = new Tracer
    val ctx = new Ctx(spark, tracer, a("plant-wrong") == "true", tiny, seed)
    val wl: Workload = workload match {
      case "mor_read" => new MorRead(ctx)
      case "mor_churn" => new MorChurn(ctx)
      case "curate" => new Curate(ctx)
    }
    try run(spark, ctx, wl, workload, seed, seconds, traced, dir, a("trace-out"))
    finally spark.stop()
  }

  private def run(spark: SparkSession, ctx: Ctx, wl: Workload, workload: String,
                  seed: Long, seconds: Double, traced: Boolean, dir: Path,
                  traceOut: String): Unit = {
    val tracer = ctx.tracer
    val jvmUpAtSetup = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val setupS = (0 until SetupRounds).map { i =>
      val t0 = System.nanoTime()
      wl.setup(dir.resolve(s"setup$i"))
      (System.nanoTime() - t0) / 1e9
    }
    // One untimed op of each kind first, so the JIT, codegen and class
    // loading of every op path are warm before the timed loop. Warm-up ops
    // count in `attempted` and `failed` like the loop's.
    val warmOps = wl.nextBlock(new scala.util.Random(seed + 1)).distinctBy(_.kind)
    var warmFailed = 0
    val w0 = System.nanoTime()
    warmOps.foreach { op =>
      val ok = try op.body().ok catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up ${op.kind} threw: $e"); false }
      if (!ok) warmFailed += 1
      wl.afterOp(op, 0L, traced = false)
    }
    println(f"JVM up $jvmUpAtSetup%.1f s at setup; setup rounds: ${setupS.map(s => f"$s%.3f").mkString(", ")} s; " +
      f"warm-up ${(System.nanoTime() - w0) / 1e9}%.3f s")

    val counters = new SparkCounters
    val plans = new PlanMetrics
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(plans)
    }
    val lat = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val readLat = mutable.ArrayBuffer[Double]()
    val writeLat = mutable.ArrayBuffer[Double]()
    var rows = 0L
    var rowsTime = 0.0
    var loopOps = 0L
    var failed = warmFailed.toLong
    val opsDigest = MessageDigest.getInstance("SHA-256")
    val rng = new scala.util.Random(seed * 1000003L + 17L)

    val h0 = new HostSample
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var stop = false
    val blockS = mutable.ArrayBuffer[Double]()
    while (!stop) {
      val b0 = System.nanoTime()
      wl.nextBlock(rng).foreach { op =>
        loopOps += 1
        val opId = loopOps
        opsDigest.update(s"${op.kind}:${op.desc};".getBytes)
        if (traced) spark.sparkContext.setJobGroup(s"op-$opId", op.kind)
        if (traced) tracer.beginOp(opId, s"op.${op.kind}")
        val t0 = System.nanoTime()
        val res =
          try op.body()
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] op $opId ${op.kind} (${op.desc}) threw: $e")
            e.printStackTrace()
            OpResult(ok = false)
          }
        val dt = (System.nanoTime() - t0) / 1e9
        if (traced) { tracer.endOp(); spark.sparkContext.clearJobGroup() }
        if (!res.ok) {
          failed += 1
          System.err.println(s"[perfbench] op $opId ${op.kind} (${op.desc}): wrong answer")
        }
        (if (op.write) writeLat else readLat) += dt
        lat.getOrElseUpdate(op.kind, mutable.ArrayBuffer()) += dt
        if (res.rows > 0) { rows += res.rows; rowsTime += dt }
        if (traced) {
          org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
          counters.take(s"op-$opId").foreach { case (k, v) => tracer.add(opId, k, v) }
          val p = plans.drain()
          if (!op.write) {
            p.flatten.foreach { case (k, v) => tracer.add(opId, k, v) }
            tracer.add(opId, "read.rows_out", res.out)
          }
          tracer.add(opId, "spark.storage_mem_bytes", storageBytes(spark))
        }
        wl.afterOp(op, opId, traced)
        if (traced) { // the probes' own jobs and plans belong to no op
          org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
          plans.drain(); counters.take("none")
        }
      }
      blockS += (System.nanoTime() - b0) / 1e9
      stop = System.nanoTime() >= deadline
    }
    val h1 = new HostSample
    val attempted = warmOps.size + loopOps
    val loopS = (h1.wallNs - h0.wallNs) / 1e9
    val host = HostSample.delta(h0, h1)
    val end = wl.finish()
    val allWrite = writeLat ++ wl.extraWriteLatencies
    val (rTail, rBeyond) = tail(readLat.toSeq)
    val (wTail, wBeyond) = tail(allWrite.toSeq)

    val e2e = Seq(
      "setup_s" -> (median(setupS), "s"),
      "ops_per_s" -> (loopOps / loopS, "1/s"),
      "read_p50_s" -> (median(readLat.toSeq), "s"),
      "read_tail_s" -> (rTail, "s"),
      "write_p50_s" -> (median(allWrite.toSeq), "s"),
      "write_tail_s" -> (wTail, "s"),
      "rows_per_s" -> (if (rowsTime > 0) rows / rowsTime else 0.0, "1/s"),
      "recall" -> (end("recall"), "ratio"),
      "space_amp" -> (end("space_amp"), "ratio"),
      "write_amp" -> (end("write_amp"), "ratio"),
      "rss_peak_bytes" -> (HostSample.rssPeakBytes(), "B"))

    println(f"workload $workload seed $seed: $loopOps ops in $loopS%.2f s " +
      f"(+${warmOps.size} warm-up), failed $failed, fail_ratio ${failed.toDouble / attempted}%.4f")
    println(s"blocks: ${blockS.map(b => f"$b%.2f").mkString(", ")} s")
    println(s"tails (p$TailPct): read ${readLat.size} samples, $rBeyond beyond; " +
      s"write ${allWrite.size} samples, $wBeyond beyond " +
      s"(${wl.extraWriteLatencies.size} from setup commits)")
    println("attribution: " + host.toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=$v%.4f" }.mkString(" ") + f" loop_wall_s=$loopS%.3f")
    println(s"fingerprint: inputs=${wl.inputsFingerprint} ops=${hex(opsDigest)} n_ops=$loopOps")
    lat.toSeq.sortBy(_._1).foreach { case (k, xs) =>
      println(f"  op $k%-16s n=${xs.size}%-4d p50=${median(xs.toSeq)}%.4f s max=${xs.max}%.4f s")
    }
    e2e.foreach { case (k, (v, u)) => println(f"  $k%-16s $v%.6g $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e.map { case (k, (v, u)) => (k, v, u) }
      else perLayer(tracer, host, loopOps / loopS, traceOut, workload, seed)
        .filter { case (k, _, _) => JsonLayers(k) }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def hex(d: MessageDigest): String = d.digest().take(8).map("%02x".format(_)).mkString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The tail percentile of every run, whatever its sample count. */
  val TailPct = 90

  /** The [[TailPct]]th percentile, interpolated linearly between the two
    * nearest ranks (numpy's default), and the number of samples above it.
    * One definition for every sample count, so runs that complete
    * different numbers of ops report the same statistic. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 0)
    else {
      val pos = TailPct / 100.0 * (n - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, n - 1)
      val v = s(lo) + (pos - lo) * (s(hi) - s(lo))
      (v, s.count(_ > v))
    }
  }

  private def storageBytes(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => (max - remaining).toDouble }.sum

  val PerLayerNames: Seq[(String, String)] = Seq(
    "meta.load_s" -> "s", "meta.snapshots" -> "count", "meta.log_files" -> "count",
    "meta.log_bytes" -> "B",
    "read.construct_s" -> "s", "read.exec_s" -> "s", "read.scan_files" -> "count",
    "read.scan_bytes" -> "B", "read.rows_in_per_row_out" -> "ratio",
    "read.data_files_live" -> "count", "read.delete_files_live" -> "count",
    "catalog.sql_construct_s" -> "s", "catalog.sql_exec_s" -> "s",
    "table.stage_s" -> "s", "table.commit_s" -> "s", "table.files_added" -> "count",
    "table.delete_files_added" -> "count", "table.bytes_written" -> "B",
    "table.maint_s" -> "s", "table.maint_bytes_rewritten" -> "B",
    "ext.curate_construct_s" -> "s", "ext.curate_exec_s" -> "s",
    "ext.ivf_query_s" -> "s") ++
    SparkCounters.Sites.map(s => s"ext.stage.$s.cpu_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.exec_run_s" -> "s",
    "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.sched_delay_s" -> "s", "spark.storage_mem_bytes" -> "B",
    "driver.cpu_s" -> "s", "jvm.gc_s" -> "s", "host.cpu_per_wall" -> "ratio",
    "host.steal_s" -> "s", "trace.ops_per_s" -> "1/s")

  /** The per-layer metrics of the result line: those every workload in
    * BENCHMARK.json exercises. The ext.* metrics (curate only) are in the
    * trace file. */
  private val JsonLayers: Set[String] = PerLayerNames.map(_._1).filterNot(_.startsWith("ext.")).toSet

  /** Spans named here are timed per call; the metric is their mean. */
  private val SpanMetrics = Seq("meta.load", "read.construct", "read.exec",
    "catalog.sql_construct", "catalog.sql_exec", "table.stage", "table.commit",
    "table.maint", "ext.curate_construct", "ext.curate_exec", "ext.ivf_query")

  /** Span metrics are means per call; per-op counters and gauges (sizes
    * after the op) are means over the ops that carry them. */
  private def perLayer(tracer: Tracer, host: Map[String, Double], opsPerS: Double,
                       traceOut: String, workload: String,
                       seed: Long): Seq[(String, Double, String)] = {
    val spanMean = SpanMetrics.map { n =>
      val d = tracer.spans.filter(_.name == n).map(s => (s.end - s.start) / 1e9)
      s"${n}_s" -> (if (d.isEmpty) 0.0 else d.sum / d.size)
    }.toMap
    val perOp = tracer.counters.values.toSeq
    def mean(k: String): Double = {
      val vs = perOp.flatMap(_.get(k))
      if (vs.isEmpty) 0.0 else vs.sum / vs.size
    }
    val rowsIn = perOp.flatMap(_.get("read.scan_rows")).sum
    val rowsOut = perOp.flatMap(_.get("read.rows_out")).sum
    // the tracing overhead is this run's ops/s against the untraced runs'
    val derived = Map(
      "read.rows_in_per_row_out" -> (if (rowsOut > 0) rowsIn / rowsOut else 0.0),
      "trace.ops_per_s" -> opsPerS) ++ host
    val out = PerLayerNames.map { case (k, u) =>
      (k, spanMean.getOrElse(k, derived.getOrElse(k, mean(k))), u) }
    writeTrace(tracer, out, workload, seed, traceOut)
    out
  }

  private def writeTrace(tracer: Tracer, metrics: Seq[(String, Double, String)],
                         workload: String, seed: Long, path: String): Unit = {
    val self = tracer.selfTimes
    val layerSelf = tracer.spans.groupBy(_.name.split('.').head)
      .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
    val sb = new StringBuilder
    sb ++= s"""{"workload": "$workload", "seed": $seed,\n"""
    sb ++= """"layer_self_s": {""" + layerSelf.toSeq.sortBy(_._1)
      .map { case (l, v) => s""""$l": ${num(v)}""" }.mkString(", ") + "},\n"
    sb ++= """"metrics": {""" + metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") + "},\n"
    sb ++= """"spans": [""" + "\n"
    sb ++= tracer.spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_ns": ${self(s.id)}}"""
    }.mkString(",\n")
    sb ++= "],\n" + """"op_counters": {""" + tracer.counters.toSeq.sortBy(_._1).map {
      case (op, m) => s""""$op": {""" + m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ") + "}"
    }.mkString(",\n") + "}}\n"
    Files.writeString(Paths.get(path), sb.toString)
    println(s"trace: ${tracer.spans.size} spans written to $path; layer self time " +
      layerSelf.toSeq.sortBy(_._1).map { case (l, v) => f"$l=$v%.3fs" }.mkString(" "))
  }

  // ---- helpers shared by the workloads --------------------------------

  /** Regular files under `root` with their sizes. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val w = Files.walk(root)
      try {
        val b = Map.newBuilder[String, Long]
        w.forEach(p => if (Files.isRegularFile(p)) b += p.toString -> Files.size(p))
        b.result()
      } finally w.close()
    }

  def bytes(root: Path): Long = files(root).values.sum

  /** Bytes of `df` written once as plain Parquet in one file. */
  def plainParquetBytes(df: DataFrame, at: Path): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(at.toString)
    files(at).filter(_._1.endsWith(".parquet")).values.sum
  }

  def sha(parts: Any*): String = {
    val d = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => d.update(p.toString.getBytes))
    hex(d)
  }
}
