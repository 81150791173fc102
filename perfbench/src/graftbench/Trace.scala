package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the enclosing span
  * (-1 for an op's root span); every span of one op shares `op`. */
final class Span(val id: Int, val parent: Int, val op: Long, val name: String,
                 val start: Long, var end: Long = 0L)

/** In-memory span recorder. Spans are recorded only while `active` (the
  * loop's ops in a traced run); otherwise [[span]] just runs its body. */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  /** Per-op counters (name → value), filled by the runner and the probes. */
  val counters = mutable.Map[Long, mutable.Map[String, Double]]()
  var active = false
  private var op = 0L
  private var stack: List[Int] = Nil

  def beginOp(opId: Long, name: String): Unit = {
    op = opId; active = true; stack = Nil; push(name)
  }
  def endOp(): Unit = { while (stack.nonEmpty) pop(); active = false }

  private def push(name: String): Unit = {
    val s = new Span(spans.size, stack.headOption.getOrElse(-1), op, name,
      System.nanoTime())
    spans += s; stack ::= s.id
  }
  private def pop(): Unit = { spans(stack.head).end = System.nanoTime(); stack = stack.tail }

  def span[T](name: String)(body: => T): T =
    if (!active) body else { push(name); try body finally pop() }

  /** Record a span that ran outside an op (post-op probes). */
  def probe[T](opId: Long, name: String)(body: => T): T = {
    val s = new Span(spans.size, -1, opId, name, System.nanoTime())
    spans += s
    try body finally s.end = System.nanoTime()
  }

  def add(opId: Long, name: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(opId, mutable.Map())
    m(name) = m.getOrElse(name, 0.0) + v
  }

  /** Self time of each span: its duration minus the time its children
    * cover (children of one span run one after another on the client
    * thread, so their durations do not overlap). */
  def selfTimes: Map[Int, Long] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.map(s => s.id -> (s.end - s.start - childNs(s.id))).toMap
  }
}

/** Executor-side work per job group, from Spark's own task metrics. The
  * traced run tags each op's jobs with job group `op-<id>`. */
final class SparkCounters extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
  /** group → counter → value */
  val byGroup = new java.util.concurrent.ConcurrentHashMap[String, mutable.Map[String, Double]]()

  private def add(group: String, k: String, v: Double): Unit = {
    val m = byGroup.computeIfAbsent(group, _ => mutable.Map[String, Double]())
    m.synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  }

  /** The graft.ext module a stage's job was called from, by the first
    * `graft.ext.<File>` frame of its call site; "other" when none. */
  private def site(details: String): String =
    SparkCounters.ExtFrame.findFirstMatchIn(details).map(_.group(1)).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    add(g, "spark.jobs", 1)
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, (g, site(s.details))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (g, st) = Option(stageGroup.get(e.stageId)).getOrElse(("none", "other"))
    val m = e.taskMetrics
    add(g, "spark.tasks", 1)
    if (m != null) {
      add(g, "spark.exec_run_s", m.executorRunTime / 1e3)
      add(g, "spark.exec_cpu_s", m.executorCpuTime / 1e9)
      add(g, s"ext.stage.$st.cpu_s", m.executorCpuTime / 1e9)
      add(g, "spark.gc_s", m.jvmGCTime / 1e3)
      add(g, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(g, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      add(g, "spark.sched_delay_s", math.max(0L, delay) / 1e3)
    }
  }

  def take(group: String): Map[String, Double] =
    Option(byGroup.remove(group)).map(_.toMap).getOrElse(Map.empty)
}

object SparkCounters {
  val ExtFrame = """graft\.ext\.([A-Za-z]+)""".r
  /** Curate stage sites reported as `ext.stage.<site>.cpu_s`. */
  val Sites = Seq("CuratePipeline", "Dedup", "Contam", "Curation", "TextOps",
    "Similarity", "other")
}

/** Scan-node SQL metrics of each executed plan, queued in execution order
  * and claimed by the op that ran them. */
final class PlanMetrics extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val queue = new ConcurrentLinkedQueue[Map[String, Double]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val leaves = collectWithSubqueries(qe.executedPlan) { case p: SparkPlan if p.children.isEmpty => p }
    def sum(k: String) = leaves.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
    val files = sum("numFiles")
    queue.add(Map("read.scan_files" -> files, "read.scan_bytes" -> sum("filesSize"),
      "read.scan_rows" -> leaves.filter(_.metrics.contains("numFiles"))
        .flatMap(_.metrics.get("numOutputRows")).map(_.value.toDouble).sum))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def drain(): Seq[Map[String, Double]] =
    Iterator.continually(queue.poll()).takeWhile(_ != null).toSeq
}

/** CPU-vs-wall evidence: process and client-thread CPU, GC time, and the
  * host's steal time, as deltas over an interval. */
final class HostSample {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val thread = ManagementFactory.getThreadMXBean
  val wallNs: Long = System.nanoTime()
  val procCpuNs: Long = os.getProcessCpuTime
  val threadCpuNs: Long = thread.getCurrentThreadCpuTime
  val gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  val stealTicks: Long = HostSample.stealTicks()
}

object HostSample {
  /** Steal ticks from the aggregate `cpu` line of /proc/stat (8th field). */
  def stealTicks(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Exception => 0L }

  /** Attribution over [a, b]: host.cpu_per_wall (process CPU seconds per
    * wall second; 4 = all of local[4] busy), host.steal_s, jvm.gc_s,
    * driver.cpu_s (the client thread). Ticks are USER_HZ = 100. */
  def delta(a: HostSample, b: HostSample): Map[String, Double] = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    Map("host.cpu_per_wall" -> ((b.procCpuNs - a.procCpuNs) / 1e9 / wall),
      "host.steal_s" -> ((b.stealTicks - a.stealTicks) / 100.0),
      "jvm.gc_s" -> ((b.gcMs - a.gcMs) / 1e3),
      "driver.cpu_s" -> ((b.threadCpuNs - a.threadCpuNs) / 1e9))
  }

  /** Peak resident set size of this process (VmHWM), bytes. */
  def rssPeakBytes(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
}

/** Post-op probes of the traced run: snapshot-log load time and size, and
  * the live data and delete files from the catalog's metadata tables. */
object Probes {
  /** Records the probes on `opId`; returns the live (data, delete) file
    * paths, relative to the table directory. */
  def table(ctx: Ctx, opId: Long, tableDir: String, table: String): (Set[String], Set[String]) = {
    val t = ctx.tracer
    val o = t.probe(opId, "meta.load")(graft.meta.SnapshotLog(tableDir).loadOutline())
    t.add(opId, "meta.snapshots", o.outlines.size)
    val meta = Main.files(Paths.get(tableDir, "metadata"))
    t.add(opId, "meta.log_files", meta.size)
    t.add(opId, "meta.log_bytes", meta.values.sum.toDouble)
    def paths(q: String) = ctx.spark.sql(s"SELECT file_path FROM $q").collect()
      .map(_.getString(0).stripPrefix(tableDir).stripPrefix("/")).toSet
    val data = paths(s"$table.files")
    val deletes = paths(s"$table.delete_files")
    t.add(opId, "read.data_files_live", data.size)
    t.add(opId, "read.delete_files_live", deletes.size)
    (data, deletes)
  }
}

/** File accounting of one table directory, shared by every workload: after
  * each write op, the files that appeared under the directory since the
  * previous listing. Their bytes feed write_amp in every run; the traced
  * run also records the table.* counters of the op, classing the added
  * files as data or delete files by the catalog's `files` and
  * `delete_files` metadata tables. */
final class TableFiles(ctx: Ctx, tableDir: String, table: String) {
  private val root = Paths.get(tableDir)
  private var last = Main.files(root)
  /** Bytes of every file created under the table directory so far. */
  var bytesWritten = 0L

  def afterOp(op: Op, opId: Long, traced: Boolean): Unit = {
    val added =
      if (!op.write) Map.empty[String, Long]
      else {
        val now = Main.files(root)
        val a = now.filter { case (p, s) => !last.get(p).contains(s) }
        last = now
        bytesWritten += a.values.sum
        a
      }
    if (traced) {
      val (data, deletes) = Probes.table(ctx, opId, tableDir, table)
      if (op.write) {
        val rel = added.keys.map(p => root.relativize(Paths.get(p)).toString).toSet
        val t = ctx.tracer
        if (op.kind == "maintain") t.add(opId, "table.maint_bytes_rewritten", added.values.sum.toDouble)
        else {
          t.add(opId, "table.files_added", rel.count(data).toDouble)
          t.add(opId, "table.delete_files_added", rel.count(deletes).toDouble)
          t.add(opId, "table.bytes_written", added.values.sum.toDouble)
        }
      }
    }
  }
}
