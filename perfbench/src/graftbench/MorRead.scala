package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.meta.SnapshotLog
import graft.read.MorReader
import graft.schema.GraftSchema
import graft.table.GraftTableGenerator

/** `mor_read`: one partitioned, delete-heavy, never-compacted MoR table
  * under a seeded mix of read ops. Its history holds appends, positional
  * tombstones, deletion vectors, equality deletes, a SQL UPDATE and an
  * added column. Every answer is checked against plain Spark over the
  * source Parquet with the deletes applied as predicates. */
final class MorRead(ctx: Ctx) extends Workload {
  import ctx.spark

  private val Waves = 4
  private val perWave: Long = if (ctx.tiny) 600L else 10000L
  private val seed = ctx.seed

  // the history's deletes, as predicates over the rows they reach
  private val delA = col("l_orderkey") % 11 === 3 // tombstones, wave 0
  private val delB = pmod(col("l_partkey"), lit(13)) === 5 // deletion vector, waves 0-1
  private val delC = col("l_orderkey") % 17 === 4 // equality delete, waves 0-1
  private val upd = col("l_suppkey") % 19 === 7 // SQL UPDATE, waves 0-2
  private def tag(c: Column) = pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(1000L)).cast(IntegerType)

  private var tableDir: String = _
  private var table: String = _
  private var src: Path = _
  private var runDir: Path = _
  private var snapTT = 0L
  private var refFull: (Long, Long) = _
  private var refTT: (Long, Long) = _
  private var refFlag: Map[String, (Long, Long)] = _
  private var refKey: Map[Long, (Long, Long)] = _
  private var refAgg: Seq[String] = _
  private var keys: IndexedSeq[Long] = _
  private var inputs = ""
  private val commitLat = mutable.ArrayBuffer[Double]()
  private var checked = 0L
  private var matched = 0L

  override def extraWriteLatencies: Seq[Double] = commitLat.toSeq

  private def wave(w: Int): DataFrame = spark.read.parquet(src.resolve(s"wave$w").toString)

  /** Live rows of wave `w` as of the end of history (`atTT`: as of the
    * time-travel snapshot, before the UPDATE and wave 3). */
  private def expected(w: Int, atTT: Boolean): DataFrame = {
    var d = wave(w)
    if (w == 0) d = d.where(!delA)
    if (w <= 1) d = d.where(!delB && !delC)
    if (!atTT) {
      if (w <= 2) d = d.withColumn("l_tax", when(upd, col("l_tax") + 0.01).otherwise(col("l_tax")))
      d = d.withColumn("l_tag", if (w == 3) tag(col("l_orderkey")) else lit(null).cast(IntegerType))
    }
    d
  }

  private def expectedAll(atTT: Boolean): DataFrame =
    (0 until (if (atTT) 3 else Waves)).map(expected(_, atTT)).reduce(_ unionByName _)

  private def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.map(c => col(s"`$c`")): _*).bitwiseAND(0x7fffffffL)

  private def sums(df: DataFrame, by: String): Map[Any, (Long, Long)] =
    df.withColumn("_h", rowHash(df)).groupBy(by)
      .agg(count(lit(1)), sum("_h")).collect()
      .map(r => r.get(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def total(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(df)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def agg(df: DataFrame): Seq[String] =
    df.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)), sum(col("l_quantity").cast("long")),
        sum(round(col("l_extendedprice") * 100).cast("long")),
        sum(round(col("l_tax") * 100).cast("long")), count(col("l_tag")))
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq

  def setup(dir: Path): Unit = {
    runDir = dir
    src = dir.resolve("src")
    (0 until Waves).foreach { w =>
      Data.lineitem(spark, seed, w, perWave).write.mode("overwrite")
        .parquet(src.resolve(s"wave$w").toString)
    }
    val ns = dir.getFileName.toString
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    table = s"graft.$ns.lineitem"
    val schema0 = wave(0).schema
    val g = new GraftTableGenerator(spark, s"$wh/$ns", "lineitem")
    tableDir = g.tableDir.toString
    def commit(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; commitLat += (System.nanoTime() - t0) / 1e9
    }
    g.create(GraftSchema.of(schema0.fields.map(f => f.name -> f.dataType).toSeq: _*),
      Seq("l_returnflag"))
    commit(g.appendBulk(wave(0), 3).commit())
    commit(g.positionalDelete(delA).commit())
    commit(g.appendBulk(wave(1), 3).commit())
    commit { g.vectorDeletes(true).positionalDelete(delB).commit(); g.vectorDeletes(false) }
    commit(g.equalityDelete(delC, Seq("l_orderkey")).commit())
    commit(g.appendBulk(wave(2), 3).commit())
    snapTT = SnapshotLog(tableDir).lastSnapshotId
    commit(spark.sql(s"UPDATE $table SET l_tax = l_tax + 0.01 WHERE l_suppkey % 19 = 7"))
    g.refresh()
    g.addColumn("l_tag", IntegerType)
    commit(g.appendBulk(wave(3).withColumn("l_tag", tag(col("l_orderkey"))), 3).commit())

    val exp = expectedAll(atTT = false)
    refFull = total(exp)
    refTT = total(expectedAll(atTT = true))
    refFlag = sums(exp, "l_returnflag").map { case (k, v) => k.asInstanceOf[String] -> v }
    val rng = new scala.util.Random(seed)
    val orders = perWave / 7
    keys = (0 until 48).map(i => Data.waveBase(i % Waves) + 1 + rng.nextInt(orders.toInt).toLong)
    refKey = sums(exp.where(col("l_orderkey").isin(keys: _*)), "l_orderkey")
      .map { case (k, v) => k.asInstanceOf[Long] -> v }
    refAgg = agg(exp)
    inputs = Main.sha((0 until Waves).map(w => total(wave(w))), keys, refFull, refTT)
  }

  def inputsFingerprint: String = inputs

  /** Run a read: construct the frame, then materialize it through the
    * noop sink while observing its checksum. */
  private def scan(ref: (Long, Long), construct: => DataFrame, sql: Boolean = false): OpResult = {
    val df = if (sql) construct else ctx.tracer.span("read.construct")(construct)
    val (obs, o) = ctx.checksum(ctx.plant(df))
    ctx.tracer.span(if (sql) "catalog.sql_exec" else "read.exec")(ctx.noop(obs))
    val got = Ctx.sumOf(o)
    check(got == ref, got._1)
  }

  private def check(ok: Boolean, rows: Long): OpResult = {
    checked += 1; if (ok) matched += 1
    OpResult(ok, rows)
  }

  def nextBlock(rng: scala.util.Random): Seq[Op] = {
    val flag = Seq("A", "N", "R")(rng.nextInt(3))
    val k1 = keys(rng.nextInt(keys.size))
    val k2 = keys(rng.nextInt(keys.size))
    def point(k: Long) = Op("sql_point", write = false, s"k=$k", () =>
      scan(refKey.getOrElse(k, (0L, 0L)),
        ctx.sql(s"SELECT * FROM $table WHERE l_orderkey = $k"), sql = true))
    rng.shuffle(Seq(
      Op("full_scan", write = false, "", () => scan(refFull, MorReader.read(spark, tableDir))),
      Op("partition_read", write = false, s"flag=$flag", () =>
        scan(refFlag(flag), MorReader.readWhere(spark, tableDir,
          Map("l_returnflag" -> Set(flag))))),
      point(k1), point(k2),
      Op("time_travel", write = false, s"snap=$snapTT", () =>
        scan(refTT, MorReader.readAt(spark, tableDir, snapTT))),
      Op("grouped_agg", write = false, "", () => {
        val df = ctx.tracer.span("read.construct")(MorReader.read(spark, tableDir))
        val got = ctx.tracer.span("read.exec")(agg(ctx.plant(df)))
        check(got == refAgg, got.size.toLong)
      })))
  }

  override def afterOp(op: Op, opId: Long, traced: Boolean): Unit =
    if (traced) Probes.table(ctx, opId, tableDir, table)

  def finish(): Map[String, Double] = {
    val plain = Main.plainParquetBytes(expectedAll(atTT = false), runDir.resolve("plain"))
    val source = Main.bytes(src)
    val tbl = Main.bytes(java.nio.file.Paths.get(tableDir))
    Map("space_amp" -> tbl.toDouble / plain, "write_amp" -> tbl.toDouble / source,
      "recall" -> (if (checked == 0) 0.0 else matched.toDouble / checked))
  }
}
