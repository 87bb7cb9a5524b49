package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.checks.ColumnCheck
import graft.ext.{Dedup, FingerprintStore, Retrieval, ValidationLedger}
import graft.io.ValidatedIO
import graft.schema.{ColumnSchema, DataFrameSchema}

/** A crawl loop over persisted curation stores. Setup builds the
  * fingerprint store, the MinHash store, the BM25 index and the validation
  * ledger from a base corpus. Each cycle ingests one JSON batch (quarantined
  * read, exact scrub, near-duplicate scrub, three store appends, ledger
  * increment) and serves one batch of BM25 queries on freshly compacted
  * stores.
  * The only workload that writes: appends and reads hit the same stores,
  * which fragment with each append until compaction. Compacting every
  * cycle keeps one run to one whole cycle; a run holds no more. */
final class CrawlIngest(ctx: Ctx) extends Workload {
  import CrawlIngest._

  private val spark = ctx.spark
  private val gen = new Gen(ctx.o.seed)
  private val stores = Seq("fpstore" -> ctx.path("stores/fp"),
    "minhash_store" -> ctx.path("stores/minhash"), "bm25" -> ctx.path("stores/bm25"),
    "ledger" -> ctx.path("stores/ledger"))
  private def store(name: String) = stores.find(_._1 == name).get._2
  private var batchId = 0
  private var inputBytes = 0L
  private val pins = mutable.ArrayBuffer.empty[DataFrame]

  // footprint bookkeeping, per store
  private var files: Map[String, Map[String, Long]] = Map.empty
  private val appended = mutable.Map.empty[String, Vector[Long]].withDefaultValue(Vector.empty)
  private val rewritten = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var liveAfterAppend: Option[Map[String, Int]] = None

  def primaryKind = "ingest"
  // a traced and an untraced cycle
  def minSteps = 2

  private def writeBase(): Unit = {
    val rows = gen.base.map(d => Row(d.id, d.text))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2 * ctx.cores),
      StructType(Seq(StructField("id", LongType, false), StructField("text", StringType))))
      .write.parquet(ctx.path("base"))
    inputBytes += Footprint.dataFiles(ctx.fs, ctx.path("base")).values.sum
  }

  private def writeBatch(b: Int, rows: Int): Batch = {
    val batch = gen.batch(b, rows)
    val p = java.nio.file.Paths.get(ctx.path(f"crawl/b$b%05d/part-0.jsonl"))
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, batch.lines.mkString("", "\n", "\n").getBytes(UTF_8))
    batch
  }

  private def batchDir(b: Int) = ctx.path(f"crawl/b$b%05d")

  def setup(): Unit = {
    ctx.phase("generate")(writeBase())
    val base = spark.read.parquet(ctx.path("base"))
    ctx.phase("fpstore.build")(ctx.span("fpstore.build")(
      FingerprintStore.build(base, "text", store("fpstore"))))
    ctx.phase("minhash_store.build")(ctx.span("minhash_store.build")(
      Dedup.buildMinHashStore(base, "id", "text", store("minhash_store"))))
    ctx.phase("bm25.build")(ctx.span("bm25.build")(
      Retrieval.buildIndex(base, "id", "text", store("bm25"))))
    ctx.phase("ledger.build")(ctx.span("ledger.build")(ValidationLedger.validateIncrementBatch(
      ledgerSchema, base.select(col("id").as("doc_id"), col("text"), lit("base").as("crawl")),
      "crawl", store("ledger"), "base", Tag, 0L, Some(Seq("base"))).collect()))
    probe()
    // warm-up: one small cycle on a batch the loop never measures
    ctx.phase("warmup") { ingest(WarmupRows); serve() }
    ctx.ops.clear()
    appended.clear(); rewritten.clear()
  }

  // compaction first, so every measured ingest and serve meets a store
  // compacted down to one generation plus this cycle's append
  def step(): Unit = {
    ctx.nextCycle()
    compact()
    ingest()
    if (liveAfterAppend.isEmpty)
      liveAfterAppend = Some(files.map { case (s, fs) => s -> fs.size })
    serve()
  }

  /** Lists every store through the Hadoop FS; returns the bytes of files
    * each store gained since the last probe. Runs outside the timed op. */
  private def probe(): Map[String, Long] = {
    val now = stores.map { case (s, root) => s -> Footprint.dataFiles(ctx.fs, root) }.toMap
    val written = now.map { case (s, fs) =>
      val before = files.getOrElse(s, Map.empty)
      s -> fs.collect { case (f, n) if !before.get(f).contains(n) => n }.sum
    }
    files = now
    written
  }

  private def pin(df: DataFrame): DataFrame = { pins += df; df.persist() }

  private def ingest(rows: Int = BatchRows): Unit = {
    val b = batchId
    batchId += 1
    val batch = writeBatch(b, rows)
    inputBytes += batch.lines.map(_.getBytes(UTF_8).length + 1L).sum
    val label = s"b$b"
    val planted = ctx.plant()
    val out = ctx.op("ingest", batch.lines.size.toLong) {
      val (errors, valid, nValid, nBad) = ctx.span("io.read") {
        val (r, bad) = ValidatedIO.readQuarantined(spark, crawlSchema, batchDir(b), "json")
        val valid = pin(r.data.select(col("id"), col("text")))
        (r.errors.size, valid, valid.count(), bad.count())
      }
      val afterExact = ctx.span("fpstore.scrub") {
        val df = pin(FingerprintStore.scrub(valid, "text", store("fpstore")))
        (df, df.count())
      }
      val survivors = ctx.span("minhash_store.scrub") {
        val df = pin(Dedup.dropExistingNearDupStore(afterExact._1, "id", "text",
          store("minhash_store")))
        (df, df.count())
      }
      val s = survivors._1
      val appends = Seq(
        ctx.span("fpstore.append")(FingerprintStore.appendBatch(s, "text",
          store("fpstore"), Tag, b.toLong)),
        ctx.span("minhash_store.append")(Dedup.appendBatchToMinHashStore(s, "id", "text",
          store("minhash_store"), Tag, b.toLong)),
        ctx.span("bm25.append")(Retrieval.appendBatchToIndex(s, "id", "text",
          store("bm25"), Tag, b.toLong)))
      val verdicts = ctx.span("ledger.increment")(ValidationLedger.validateIncrementBatch(
        ledgerSchema, s.select(col("id").as("doc_id"), col("text"), lit(label).as("crawl")),
        "crawl", store("ledger"), label, Tag, b + 1L, Some(Seq(label))).collect())
      IngestOut(errors, nValid, nBad, afterExact._2, survivors._2, s, appends, verdicts)
    } { o =>
      val survivorIds = o.survivors.select("id").collect().map(_.getLong(0)).toSet
      val fresh = batch.freshIds.size.toLong + (if (planted) 1 else 0)
      Seq(
        (o.errors == 0) -> s"validation reported ${o.errors} errors (invalid rows are dropped, not raised)",
        (o.nBad == batch.corrupt) -> s"quarantined ${o.nBad} malformed records, expected ${batch.corrupt}",
        (o.nValid == fresh + batch.exact + batch.near) ->
          s"${o.nValid} valid rows, expected ${fresh + batch.exact + batch.near}",
        (o.nAfterExact == fresh + batch.near) ->
          s"${o.nAfterExact} rows after the exact scrub, expected ${fresh + batch.near}",
        (o.nSurvivors == fresh && survivorIds == batch.freshIds) ->
          s"${o.nSurvivors} survivors, expected exactly the $fresh fresh documents",
        o.appends.forall(identity) -> s"a store append committed nothing: ${o.appends}",
        (o.verdicts.length == 1 && o.verdicts(0).getAs[String]("partition") == label &&
          o.verdicts(0).getAs[Long]("n_rows") == fresh &&
          o.verdicts(0).getAs[Boolean]("passed")) ->
          s"ledger verdicts ${o.verdicts.mkString(",")}, expected one passing $label of $fresh rows"
      ).collect { case (false, msg) => msg }
    }
    pins.foreach(_.unpersist())
    pins.clear()
    if (out.isDefined) gen.commit(batch)
    probe().foreach { case (s, n) => appended(s) = appended(s) :+ n }
  }

  private def serve(): Unit = {
    val qs = gen.queries(batchId, QueriesPerServe)
    val queries = spark.createDataFrame(
      java.util.Arrays.asList(qs.map(q => Row(q.id, q.text)): _*),
      StructType(Seq(StructField("query_id", LongType), StructField("qtext", StringType))))
    ctx.op("serve", 0L) {
      ctx.span("bm25.serve")(Retrieval.bm25TopKFromIndex(spark, store("bm25"), queries,
        "query_id", "qtext", k = 10).collect())
    } { rows =>
      val top = rows.filter(_.getAs[Int]("rank") == 1)
        .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("doc_id")).toMap
      qs.filterNot(q => top.get(q.id).contains(q.docId)).take(3)
        .map(q => s"query ${q.id} ranked ${top.get(q.id)} first, expected its source ${q.docId}")
    }
  }

  private def compact(): Unit = {
    ctx.op("compact", 0L, compaction = true) {
      ctx.span("fpstore.compact")(FingerprintStore.compact(spark, store("fpstore")))
      ctx.span("minhash_store.compact")(Dedup.compactMinHashStore(spark, store("minhash_store")))
      ctx.span("bm25.compact")(Retrieval.compactIndex(spark, store("bm25")))
      ctx.span("ledger.compact")(ValidationLedger.compact(spark, store("ledger")))
    }(_ => Nil)
    probe().foreach { case (s, n) => rewritten(s) += n }
  }

  def inputsDigest(): String = {
    writeBase()
    val batches = (0 until 3).map { b => val x = writeBatch(b, BatchRows); gen.commit(x); x }
    val qs = gen.queries(3, QueriesPerServe)
    Digest.of(spark, ctx.fs, Seq(ctx.path("base"), ctx.path("crawl")), (batches.map(_.render) ++
      qs.map(q => s"${q.id}:${q.text}->${q.docId}")).mkString("\n"))
  }

  override def layerMetrics(): Map[String, Double] = {
    val live = liveAfterAppend.getOrElse(Map.empty)
    val perStore = Seq("fpstore", "minhash_store", "bm25").flatMap { s =>
      Seq(s"$s.live_files" -> live.getOrElse(s, 0).toDouble,
        s"$s.mb_written" -> Stats.median(appended(s).map(_ / 1e6)))
    }
    val app = appended.values.flatten.sum.toDouble
    perStore.toMap ++ Map(
      "store.rewrite_ratio" -> (if (app > 0) rewritten.values.sum / app else 0.0),
      "store.bytes_per_input_byte" -> storeBytesPerInputByte)
  }

  private def storeBytesPerInputByte: Double =
    stores.map { case (_, root) => Footprint.diskBytes(ctx.fs, root) }.sum.toDouble /
      inputBytes

  override def reportLines(): Seq[String] = Seq(
    s"input base_docs=${gen.base.size} batch_rows=${BatchRows} batches=$batchId " +
      s"input_bytes=$inputBytes",
    s"store_bytes_per_input_byte ${storeBytesPerInputByte} ratio") ++
    files.toSeq.sortBy(_._1).map { case (s, fs) =>
      s"footprint $s files=${fs.size} bytes=${fs.values.sum}" }
}

object CrawlIngest {
  val BaseDocs = 10000
  val BatchRows = 2000
  val WarmupRows = 200
  val QueriesPerServe = 16
  val Tag = "crawl"

  val crawlSchema: DataFrameSchema = DataFrameSchema(
    "id" -> ColumnSchema(Some(LongType), Nil, nullable = false),
    "text" -> ColumnSchema(Some(StringType),
      Seq(ColumnCheck("text_nonblank", c => length(trim(c)) > 0)), nullable = false))
    .copy(dropInvalidRows = true)

  val ledgerSchema: DataFrameSchema = DataFrameSchema(
    "doc_id" -> ColumnSchema(Some(LongType), Nil, nullable = false),
    "text" -> ColumnSchema(Some(StringType),
      Seq(ColumnCheck("text_nonblank", c => length(trim(c)) > 0)), nullable = false),
    "crawl" -> ColumnSchema(Some(StringType)))

  final case class IngestOut(errors: Int, nValid: Long, nBad: Long,
      nAfterExact: Long, nSurvivors: Long, survivors: DataFrame,
      appends: Seq[Boolean], verdicts: Array[Row])

  final case class Doc(id: Long, text: String, unique: (String, String), common: String)

  final case class Batch(lines: Seq[String], fresh: Seq[Doc], exact: Long,
      near: Long, corrupt: Long, blank: Long) {
    def freshIds: Set[Long] = fresh.map(_.id).toSet
    def render: String =
      s"fresh=${fresh.map(_.id).mkString(",")} exact=$exact near=$near " +
        s"corrupt=$corrupt blank=$blank"
  }

  final case class Query(id: Long, text: String, docId: Long)

  /** Documents from a seeded Zipf vocabulary. Each document also carries
    * two tokens no other document has; a query made of those two and the
    * document's most common word can only rank that document first (the
    * two rare tokens outweigh any score the common word gives another
    * document by an order of magnitude). */
  final class Gen(seed: Long) {
    private def rng(k: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + k)
    private val vocab: Array[String] = {
      val r = rng(1L)
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < 20000)
        seen += (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab.length)(i => 1.0 / math.pow(i + 1, 1.05))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    private val uniques = mutable.HashSet.empty[String]
    private val stored = mutable.ArrayBuffer.empty[Doc]

    private def rank(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocab.length - 1)
    }

    private def uniqueToken(r: SplittableRandom): String = {
      var t = ""
      while (t.isEmpty || uniques.contains(t))
        t = "q" + (0 until 10).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      uniques += t
      t
    }

    private def doc(id: Long, r: SplittableRandom): Doc = {
      val ranks = Array.fill(80 + r.nextInt(41))(rank(r))
      val toks = ranks.map(vocab(_)).toBuffer
      val (u1, u2) = (uniqueToken(r), uniqueToken(r))
      toks.insert(r.nextInt(toks.size + 1), u1)
      toks.insert(r.nextInt(toks.size + 1), u2)
      Doc(id, toks.mkString(" "), (u1, u2), vocab(ranks.min))
    }

    val base: Seq[Doc] = {
      val r = rng(2L)
      val docs = (1 to BaseDocs).map(i => doc(i.toLong, r))
      stored ++= docs
      docs
    }

    private def json(id: Long, text: String) = s"""{"id":$id,"text":"$text"}"""

    def batch(b: Int, rows: Int): Batch = {
      val r = rng(1000L + b)
      val idBase = 10000000L * (b + 1)
      val nExact = rows / 10
      val nNear = rows / 20
      val nCorrupt = rows / 40
      val nBlank = rows / 40
      val nFresh = rows - nExact - nNear - nCorrupt - nBlank
      def source() = stored(r.nextInt(stored.size))
      val fresh = (0 until nFresh).map(j => doc(idBase + j, r))
      val lines = mutable.ArrayBuffer.empty[String]
      lines ++= fresh.map(d => json(d.id, d.text))
      var id = idBase + nFresh
      def nextId() = { id += 1; id }
      (0 until nExact).foreach(_ => lines += json(nextId(), source().text))
      (0 until nNear).foreach { _ =>
        // one token in ~100 replaced: 3-shingle Jaccard stays above 0.9
        val toks = source().text.split(" ")
        val p = r.nextInt(toks.length)
        var w = toks(p)
        while (w == toks(p)) w = vocab(rank(r))
        toks(p) = w
        lines += json(nextId(), toks.mkString(" "))
      }
      (0 until nCorrupt).foreach(_ => lines += s"""{"id": ${nextId()}, "text": "broken""")
      (0 until nBlank).foreach(_ => lines += json(nextId(), "   "))
      // Fisher-Yates with the batch's own generator
      for (i <- lines.indices.reverse) {
        val j = r.nextInt(i + 1)
        val t = lines(i); lines(i) = lines(j); lines(j) = t
      }
      Batch(lines.toSeq, fresh, nExact, nNear, nCorrupt, nBlank)
    }

    /** The batch's fresh documents are now stored. */
    def commit(batch: Batch): Unit = stored ++= batch.fresh

    def queries(b: Int, n: Int): Seq[Query] = {
      val r = rng(500000L + b)
      (0 until n).map { i =>
        val d = stored(r.nextInt(stored.size))
        Query(i.toLong, s"${d.unique._1} ${d.common} ${d.unique._2}", d.id)
      }
    }
  }
}
