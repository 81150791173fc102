package graftbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.DataFrame

import graft.ext.{CuratePipeline, Similarity}
import graft.read.MorReader
import graft.schema.GraftSchema
import graft.table.GraftTableGenerator

/** `curate`: the training-data path. The loop alternates a
  * `CuratePipeline.curate` pass, whose chunks are appended and committed
  * to a training table, with a batch of IVF top-10 queries, in a seeded
  * order, against an index built in setup. References: the first pass's
  * summary fingerprint for every later pass, and a driver-side brute-force
  * top-10 for every query (its recall, plus the exact cosine of every
  * returned hit). */
final class Curate(ctx: Ctx) extends Workload {
  import ctx.spark

  private val nDocs: Long = if (ctx.tiny) 200L else 1000L
  private val nVecs: Long = if (ctx.tiny) 500L else 5000L
  private val Centroids = 64
  private val Probe = 12
  private val K = 10
  private val Queries = 36
  /** Passes per block; the pool's queries are split evenly between them. */
  private val PassesPerBlock = 3
  private val KeepSnapshots = 5

  private var corpus: DataFrame = _
  private var bench: DataFrame = _
  private var corpusDocs = 0L
  private var idx: Similarity.IvfIndex = _
  private var vecs: Array[(Long, Array[Double])] = _
  private var byId: Map[Long, Array[Double]] = _
  private var queries: IndexedSeq[Array[Double]] = _
  private var truth: IndexedSeq[Set[Long]] = _
  /** Summary fingerprint of the first pass (run by the untimed warm-up),
    * which every later pass must reproduce. */
  private var refPass: Option[(Long, Long)] = None
  private var runDir: Path = _
  private var g: GraftTableGenerator = _
  private var tableDir: String = _
  private var table: String = _
  private var files: TableFiles = _
  private var committedChunks = 0L
  private var passes = 0L
  /** Bytes of one pass's chunks written once as plain Parquet. */
  private var passPlainBytes = 0L
  private var hits = 0L
  private var asked = 0L
  private var inputs = ""

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) Double.NaN else d / math.sqrt(na * nb)
  }

  def setup(dir: Path): Unit = {
    val src = dir.resolve("src")
    val (c, b) = Data.corpus(Data.documents(spark, ctx.seed, nDocs))
    c.write.mode("overwrite").parquet(src.resolve("corpus").toString)
    b.write.mode("overwrite").parquet(src.resolve("bench").toString)
    Data.embeddings(spark, ctx.seed, nVecs).write.mode("overwrite")
      .parquet(src.resolve("emb").toString)
    corpus = spark.read.parquet(src.resolve("corpus").toString)
    bench = spark.read.parquet(src.resolve("bench").toString)
    corpusDocs = corpus.count()
    val emb = spark.read.parquet(src.resolve("emb").toString)
    val ivf = dir.resolve("ivf").toString
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", Centroids, ivf)
    idx = Similarity.openIvfIndex(spark, ivf)

    vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    byId = vecs.toMap
    val rng = new scala.util.Random(ctx.seed)
    queries = (0 until Queries).map { _ =>
      vecs(rng.nextInt(vecs.length))._2.map(x => x + (rng.nextDouble() - 0.5) * 0.2)
    }
    truth = queries.map(q => vecs.map(v => (v._1, cos(q, v._2)))
      .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1).toSet)

    val ns = dir.getFileName.toString
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    table = s"graft.$ns.train"
    g = new GraftTableGenerator(spark, s"$wh/$ns", "train")
    tableDir = g.tableDir.toString
    files = new TableFiles(ctx, tableDir, table)
    refPass = None; committedChunks = 0; passes = 0; hits = 0; asked = 0
    runDir = dir
    inputs = Main.sha(corpusDocs, vecs.length, truth.map(_.toSeq.sorted))
  }

  def inputsFingerprint: String = inputs

  private def pass(): OpResult = {
    val chunks = ctx.tracer.span("ext.curate_construct")(
      CuratePipeline.curate(corpus, bench, "doc_id", "text"))
    if (refPass.isEmpty) // the first pass creates the training table
      g.create(GraftSchema.of(chunks.schema.fields.map(f => f.name -> f.dataType).toSeq: _*),
        Seq("split"))
    val (obs, o) = ctx.checksum(ctx.plant(chunks))
    ctx.tracer.span("ext.curate_exec") {
      ctx.tracer.span("table.stage")(g.appendBulk(obs, 3))
      ctx.tracer.span("table.commit")(g.commit())
      // keep the training table's log short (no data is rewritten)
      ctx.tracer.span("table.maint")(g.expireSnapshots(KeepSnapshots))
    }
    val got = Ctx.sumOf(o)
    if (refPass.isEmpty) { // the first pass is the reference
      refPass = Some(got)
      passPlainBytes = Main.plainParquetBytes(MorReader.read(spark, tableDir), runDir.resolve("plain"))
    }
    passes += 1
    committedChunks += got._1
    OpResult(refPass.contains(got), rows = corpusDocs, outRows = got._1)
  }

  /** The pipeline's own check of what it committed, through the catalog. */
  private def trainCheck(): OpResult = {
    val df = ctx.sql(s"SELECT count(*) AS n FROM $table")
    val n = ctx.tracer.span("catalog.sql_exec")(ctx.plant(df).collect()).map(_.getLong(0)).sum
    OpResult(n == committedChunks, outRows = 1)
  }


  private def query(i: Int): OpResult = {
    val q = queries(i)
    val got = ctx.tracer.span("ext.ivf_query") {
      val df = ctx.tracer.span("read.construct")(Similarity.queryIvf(idx, "vec_id", q.toSeq, K, Probe))
      ctx.tracer.span("read.exec")(ctx.plant(df).collect())
    }
    val ids = got.map(_.getLong(0))
    val cs = got.map(_.getDouble(1))
    // every hit must carry its true cosine, in descending order
    val exact = got.length == K && ids.distinct.length == K &&
      ids.zip(cs).forall { case (id, c) => math.abs(cos(q, byId(id)) - c) <= 1.5e-4 } &&
      cs.zip(cs.drop(1)).forall { case (a, b) => a >= b }
    hits += ids.count(truth(i)); asked += K
    OpResult(exact, outRows = got.length.toLong)
  }

  /** [[PassesPerBlock]] times: a pass, its check, and a share of the
    * query pool, which a block asks whole in a seeded order. A block is
    * longer than a run's seconds, so every run completes one, with a
    * median of three passes. */
  def nextBlock(rng: scala.util.Random): Seq[Op] =
    rng.shuffle((0 until Queries).toList).grouped(Queries / PassesPerBlock).toSeq.flatMap { qs =>
      Seq(Op("curate_pass", write = true, "", () => pass()),
        Op("train_check", write = false, "", () => trainCheck())) ++
        qs.map(i => Op("ivf_query", write = false, s"q=$i", () => query(i)))
    }

  /** The table is probed after write ops only: reads leave it unchanged. */
  override def afterOp(op: Op, opId: Long, traced: Boolean): Unit =
    if (op.write) files.afterOp(op, opId, traced)

  /** No chunk is ever deleted, so the live rows are every pass's chunks.
    * Every pass commits the same chunks, so they are counted as one pass
    * written as plain Parquet times the passes (one Parquet file of all the
    * identical copies would shrink with their number through dictionary
    * encoding). write_amp counts every file the passes created, space_amp
    * what is left of them after snapshot expiry. */
  def finish(): Map[String, Double] = {
    val tbl = Main.bytes(Paths.get(tableDir)).toDouble
    val plain = (passPlainBytes * passes).toDouble
    Map("space_amp" -> tbl / plain, "write_amp" -> files.bytesWritten / plain,
      "recall" -> (if (asked == 0) 0.0 else hits.toDouble / asked))
  }
}
