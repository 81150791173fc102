package graftbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.read.MorReader
import graft.schema.GraftSchema
import graft.table.GraftTableGenerator

/** `mor_churn`: a small partitioned table under a seeded stream of
  * committed transactions (generator verbs and catalog SQL DML), with a
  * maintenance cycle closing every block and three verifying reads among
  * the ten ops of a block (a run completes one block, so that its
  * read latency is a median of three). The reference is a model of live
  * keys and versions kept in driver memory. Deletes and inserts balance
  * per block, so the live row count stays level however many blocks a run
  * completes. */
final class MorChurn(ctx: Ctx) extends Workload {
  import ctx.spark

  private val scale = if (ctx.tiny) 10 else 1
  private val initialRows = 40000 / scale
  private val appendRows = 450 / scale
  private val deleteRows = 200 / scale
  private val mergeRows = 150 / scale
  private val KeepSnapshots = 5
  private val Parts = 2

  /** id → (val, ver); `part` and `pad` are functions of id. */
  private val model = new java.util.TreeMap[java.lang.Long, (Long, Int)]()
  private var nextId = 0L
  private var g: GraftTableGenerator = _
  private var tableDir: String = _
  private var table: String = _
  private var runDir: Path = _
  private var bytesPerRow = 0.0
  private var userBytes = 0.0
  private var files: TableFiles = _
  private var checked = 0L
  private var matched = 0L
  private var inputs = ""

  private val schema = GraftSchema.of("id" -> LongType, "part" -> IntegerType,
    "val" -> LongType, "ver" -> IntegerType, "pad" -> StringType)

  private def padOf(id: Long): String = f"${id * 2654435761L & 0xffffffffL}%010d" * 4
  private def valOf(id: Long, salt: Long): Long = (id * 31 + salt * 7 + ctx.seed) % 100003

  private def rows(ids: Seq[Long], vals: Long => Long, ver: Int): DataFrame =
    spark.createDataFrame(ids.map(id =>
      Row(id, (id % Parts).toInt, vals(id), ver, padOf(id))).asJava, schema.struct)

  def setup(dir: Path): Unit = {
    runDir = dir
    model.clear(); nextId = 0; userBytes = 0
    checked = 0; matched = 0
    val ns = dir.getFileName.toString
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    table = s"graft.$ns.churn"
    g = new GraftTableGenerator(spark, s"$wh/$ns", "churn")
    tableDir = g.tableDir.toString
    val init = spark.range(initialRows).select(col("id"),
      (col("id") % Parts).cast("int").as("part"),
      ((col("id") * 31 + ctx.seed) % 100003).as("val"), lit(0).as("ver"),
      repeat(format_string("%010d", col("id") * 2654435761L bitwiseAND 0xffffffffL), 4).as("pad"))
    g.create(schema, Seq("part")).appendBulk(init, 4).commit()
    (0L until initialRows).foreach(id => model.put(id, (valOf(id, 0), 0)))
    nextId = initialRows
    val plainBytes = Main.plainParquetBytes(init, dir.resolve("plain"))
    bytesPerRow = plainBytes.toDouble / initialRows
    files = new TableFiles(ctx, tableDir, table)
    inputs = Main.sha(modelSums(), plainBytes)
  }

  def inputsFingerprint: String = inputs

  /** (count, Σid, Σval, Σver, Σ(id mod 1009)·val) of the model. */
  private def modelSums(): Seq[Long] = {
    var n, si, sv, sr, sx = 0L
    model.forEach { (id, v) =>
      n += 1; si += id; sv += v._1; sr += v._2; sx += (id % 1009) * v._1
    }
    Seq(n, si, sv, sr, sx)
  }

  private def randomLive(rng: scala.util.Random, n: Int): Seq[Long] = {
    val lo = model.firstKey.longValue; val hi = model.lastKey.longValue
    val picked = mutable.LinkedHashSet[Long]()
    var tries = 0
    while (picked.size < n && tries < n * 20) {
      tries += 1
      val k = model.ceilingKey(lo + (rng.nextDouble() * (hi - lo)).toLong)
      if (k != null) picked += k.longValue
    }
    picked.toSeq.sorted
  }

  /** A key range [a, b) holding `n` live rows, from a random live key. */
  private def liveRange(rng: scala.util.Random, n: Int): (Long, Long, Seq[Long]) = {
    val a = randomLive(rng, 1).head
    val ids = model.tailMap(a, true).keySet.asScala.iterator.take(n).map(_.longValue).toSeq
    val b = ids.last + 1
    (a, b, ids)
  }

  private def stage[T](body: => T): T = ctx.tracer.span("table.stage")(body)
  private def commit(): Unit = ctx.tracer.span("table.commit")(g.commit())

  private def changed(n: Long): OpResult = {
    userBytes += n * bytesPerRow; OpResult(ok = true, rows = n)
  }

  def nextBlock(rng: scala.util.Random): Seq[Op] = {
    def append(): Op = {
      val ids = (nextId until nextId + appendRows).toSeq
      nextId += appendRows
      Op("append", write = true, s"${ids.head}+${ids.size}", () => {
        val df = rows(ids, valOf(_, 0), 0)
        stage(g.appendBulk(df, 2)); commit()
        ids.foreach(id => model.put(id, (valOf(id, 0), 0)))
        changed(ids.size)
      })
    }
    val posSeed = rng.nextLong()
    val eqSeed = rng.nextLong()
    val delRange = rng.nextLong()
    val updRange = rng.nextLong()
    val mergeSeed = rng.nextLong()
    val mergeNew = (nextId + appendRows until nextId + appendRows + mergeRows).toSeq
    val ops = Seq(
      append(),
      Op("pos_delete", write = true, s"s=$posSeed", () => {
        val posIds = randomLive(new scala.util.Random(posSeed), deleteRows)
        stage(g.positionalDelete(col("id").isin(posIds: _*))); commit()
        posIds.foreach(model.remove(_)); changed(posIds.size)
      }),
      Op("eq_delete", write = true, s"s=$eqSeed", () => {
        val ids = randomLive(new scala.util.Random(eqSeed), deleteRows)
        stage(g.equalityDelete(col("id").isin(ids: _*), Seq("id"))); commit()
        ids.foreach(model.remove(_)); changed(ids.size)
      }),
      Op("sql_delete", write = true, s"s=$delRange", () => {
        val (a, b, ids) = liveRange(new scala.util.Random(delRange), deleteRows)
        ctx.sql(s"DELETE FROM $table WHERE id >= $a AND id < $b")
        g.refresh()
        ids.foreach(model.remove(_)); changed(ids.size)
      }),
      Op("sql_update", write = true, s"s=$updRange", () => {
        val (a, b, ids) = liveRange(new scala.util.Random(updRange), deleteRows)
        ctx.sql(s"UPDATE $table SET val = val + 7, ver = ver + 1 WHERE id >= $a AND id < $b")
        g.refresh()
        ids.foreach { id => val (v, r) = model.get(id); model.put(id, (v + 7, r + 1)) }
        changed(ids.size)
      }),
      Op("sql_merge", write = true, s"s=$mergeSeed", () => {
        val upd = randomLive(new scala.util.Random(mergeSeed), mergeRows)
        val src = rows(upd ++ mergeNew, valOf(_, mergeSeed & 0xff), 0)
        src.createOrReplaceTempView("churn_merge_src")
        ctx.sql(s"""MERGE INTO $table t USING churn_merge_src s ON t.id = s.id
                   |WHEN MATCHED THEN UPDATE SET val = s.val, ver = t.ver + 1
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        g.refresh()
        upd.foreach { id => model.put(id, (valOf(id, mergeSeed & 0xff), model.get(id)._2 + 1)) }
        mergeNew.foreach(id => model.put(id, (valOf(id, mergeSeed & 0xff), 0)))
        changed(upd.size + mergeNew.size)
      }),
      Op("read", write = false, "", () => verify()),
      Op("read", write = false, "", () => verify()),
      Op("sql_read", write = false, "", () => verifySql()))
    nextId += mergeRows
    rng.shuffle(ops) :+ Op("maintain", write = true, "", () => {
      ctx.tracer.span("table.maint") {
        g.rewritePositionDeletesToDVs(); if (g.staged > 0) g.commit()
        g.compact(); if (g.staged > 0) g.commit()
        g.expireSnapshots(KeepSnapshots)
        g.removeOrphanFiles()
      }
      OpResult(ok = true)
    })
  }

  /** Full MoR read, checked against the model's sums. */
  private def verify(): OpResult = {
    val df = ctx.tracer.span("read.construct")(MorReader.read(spark, tableDir))
    val o = org.apache.spark.sql.Observation()
    val obs = ctx.plant(df).observe(o, count(lit(1)).as("n"), sum("id").as("si"),
      sum("val").as("sv"), sum(col("ver").cast("long")).as("sr"),
      sum((col("id") % 1009) * col("val")).as("sx"))
    ctx.tracer.span("read.exec")(ctx.noop(obs))
    val r = o.get
    val got = Seq("n", "si", "sv", "sr", "sx").map(k => Option(r(k)).map(_.asInstanceOf[Long]).getOrElse(0L))
    check(got)
  }

  /** The same check through the catalog's SQL read path. */
  private def verifySql(): OpResult = {
    val df = ctx.sql(s"SELECT count(*), sum(id), sum(val), sum(cast(ver AS bigint)), " +
      s"sum((id % 1009) * val) FROM $table")
    val r = ctx.tracer.span("catalog.sql_exec")(ctx.plant(df).collect())
    check(r.headOption.map(_.toSeq.map(v => Option(v).map(_.asInstanceOf[Long]).getOrElse(0L)))
      .getOrElse(Nil))
  }

  private def check(got: Seq[Long]): OpResult = {
    val ok = got == modelSums()
    checked += 1; if (ok) matched += 1
    OpResult(ok, outRows = got.headOption.getOrElse(0L))
  }

  override def afterOp(op: Op, opId: Long, traced: Boolean): Unit =
    files.afterOp(op, opId, traced)

  def finish(): Map[String, Double] = {
    val liveRows = spark.createDataFrame(model.asScala.toSeq.map { case (id, (v, r)) =>
      Row(id.longValue, (id % Parts).toInt, v, r, padOf(id)) }.asJava, schema.struct)
    val plain = Main.plainParquetBytes(liveRows, runDir.resolve("plain-end"))
    Map("space_amp" -> Main.bytes(Paths.get(tableDir)).toDouble / plain,
      "write_amp" -> files.bytesWritten / math.max(userBytes, 1.0),
      // a placeholder: 1 whenever the run is correct (see workloads.json)
      "recall" -> (if (checked == 0) 0.0 else matched.toDouble / checked))
  }
}
