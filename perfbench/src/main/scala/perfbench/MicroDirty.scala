package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.backend.Validator
import graft.checks.Check
import graft.errors.SchemaError
import graft.hypothesis.Hypothesis
import graft.schema.{ColumnSchema, DataFrameSchema}

/** Many small dirty batches, one parquet file each. Two columns arrive as
  * strings and are coerced; the generator injects failures at fixed rates
  * and keeps their exact counts. Ops alternate between a full `validate`
  * (report with failure cases) and a `quarantine` split. The fixed cost of
  * each call dominates: schema resolution, analysis of a wide aggregate and
  * several job launches, plus failure-case sampling, coercion and the
  * hypothesis aggregate that do no work on clean data. */
final class MicroDirty(ctx: Ctx) extends Workload {
  import MicroDirty._

  private val spark = ctx.spark
  private val dir = ctx.path("batches")
  private var batchFiles = IndexedSeq.empty[(String, Long)]
  private var next = 0

  def primaryKind = "validate"
  // three traced cycles for the per-call counts
  def minSteps = 6

  private def generate(): Unit = {
    val seed = ctx.o.seed
    // one RDD partition per batch, so part file b holds batch b
    val rows = spark.sparkContext.parallelize(0 until Batches, Batches)
      .flatMap(b => Gen.rows(seed, b).iterator)
    spark.createDataFrame(rows, Gen.fileSchema).write.parquet(dir)
    val files = Footprint.dataFiles(ctx.fs, dir).toSeq.sortBy(_._1)
    require(files.size == Batches, s"expected $Batches batch files, found ${files.size}")
    batchFiles = files.map { case (rel, n) => (s"$dir/$rel", n) }.toIndexedSeq
  }

  private def read(b: Int) = spark.read.parquet(batchFiles(b)._1)

  def setup(): Unit = {
    ctx.phase("generate")(generate())
    // warm-up on batches the loop never measures, for a fixed time: the JIT
    // and the planner keep getting faster for tens of seconds, and a fixed
    // warm-up time starts every run's measurement at the same point of that
    ctx.phase("warmup") {
      val end = System.nanoTime() + (WarmupSeconds * 1e9).toLong
      while (System.nanoTime() < end) {
        Validator.validate(schema, read(0))
        val (v, i) = Validator.splitByRowChecks(schema, read(1))
        v.count() + i.count()
      }
    }
    next = WarmupBatches
  }

  private def nextBatch(): Int = {
    val b = WarmupBatches + (next - WarmupBatches) % (Batches - WarmupBatches)
    next += 1
    b
  }

  def step(): Unit = {
    ctx.nextCycle()
    val bv = nextBatch()
    val want = {
      val e = Gen.expect(ctx.o.seed, bv)
      if (ctx.plant()) e.copy(errors = e.errors.map { case (k, x) => k -> x.copy(count = x.count + 1) })
      else e
    }
    val dv = read(bv)
    ctx.op("validate", Gen.BatchRows) {
      ctx.span("backend.validate", batchFiles(bv)._2)(Validator.validate(schema, dv)).errors
    }(errors => compare(errors, want))

    val bq = nextBatch()
    val wantQ = Gen.expect(ctx.o.seed, bq)
    val dq = read(bq)
    ctx.op("quarantine", Gen.BatchRows) {
      ctx.span("backend.quarantine", batchFiles(bq)._2) {
        val (valid, invalid) = Validator.splitByRowChecks(schema, dq)
        (valid.count(), invalid.count())
      }
    } { case (valid, invalid) =>
      if (valid == wantQ.valid && invalid == wantQ.invalid) Nil
      else Seq(s"quarantine split expected (${wantQ.valid}, ${wantQ.invalid}), got ($valid, $invalid)")
    }
  }

  def inputsDigest(): String = {
    generate()
    Digest.of(spark, ctx.fs, Seq(dir),
      (0 until Batches).map(b => Gen.expect(ctx.o.seed, b).render).mkString("\n"))
  }

  override def reportLines(): Seq[String] = Seq(
    s"input batches=$Batches rows_per_batch=${Gen.BatchRows} files=$Batches " +
      s"bytes=${batchFiles.map(_._2).sum}")
}

object MicroDirty {
  val Batches = 8
  val WarmupBatches = 2
  val WarmupSeconds = 18

  // the check instances the generator's expectations name
  val lineRange = Check.inRange(1, 7)
  val pricePositive = Check.greaterThan(0.0)
  val statusEnum = Check.isin(Seq("A", "N", "R"))
  val codePattern = Check.strMatches("[A-Z]{3}-[0-9]{4}")
  val shipBeforeReceipt =
    Check.wide("ship_before_receipt")(_ => org.apache.spark.sql.functions.col("ship_day") <=
      org.apache.spark.sql.functions.col("receipt_day"))

  val schema: DataFrameSchema = DataFrameSchema(
    "order_id" -> ColumnSchema(Some(LongType), Seq(Check.ge(1L)), nullable = false),
    "line_no" -> ColumnSchema(Some(IntegerType), Seq(lineRange)),
    "qty" -> ColumnSchema(Some(DoubleType), Seq(Check.inRange(1.0, 50.0)), coerce = true),
    "price" -> ColumnSchema(Some(DoubleType), Seq(pricePositive, Check.lessThan(1e6))),
    "discount" -> ColumnSchema(Some(DoubleType), Seq(Check.ge(0.0), Check.le(0.1)),
      coerce = true),
    "status" -> ColumnSchema(Some(StringType), Seq(statusEnum), nullable = false),
    "code" -> ColumnSchema(Some(StringType), Seq(codePattern)),
    "grp" -> ColumnSchema(Some(StringType), Seq(Check.isin(Seq("g1", "g2")))),
    "score" -> ColumnSchema(Some(DoubleType), Seq(
      Hypothesis.twoSampleTtest("grp", "g1", "g2", Hypothesis.LessThan, 0.01))),
    "ship_day" -> ColumnSchema(Some(IntegerType)),
    "receipt_day" -> ColumnSchema(Some(IntegerType)))
    .copy(checks = Seq(shipBeforeReceipt), unique = Seq("order_id", "line_no"))

  /** Expected failure of one (column, reason, check) key: how many, and
    * which values a failure-case sample may hold (compared after `canon`). */
  final case class Expect(count: Long, samples: Long, values: Set[String],
      canon: String => String)

  final case class BatchExpect(errors: Map[(String, String, String), Expect],
      valid: Long, invalid: Long) {
    def render: String = errors.toSeq.sortBy(_._1.toString).map { case (k, e) =>
      s"$k=${e.count}/${e.samples}:${e.values.toSeq.sorted.mkString(",")}"
    }.mkString(s"valid=$valid invalid=$invalid ", ";", "")
  }

  private def key(e: SchemaError): (String, String, String) = {
    val reason = e.reason.toString
    (e.column.getOrElse("-"), reason, if (reason == "DATAFRAME_CHECK") e.check else "")
  }

  def compare(errors: Seq[SchemaError], want: BatchExpect): Seq[String] = {
    val got = errors.map(e => key(e) -> e).toMap
    val missing = want.errors.keySet.diff(got.keySet).map(k => s"missing $k")
    val extra = got.keySet.diff(want.errors.keySet).map(k => s"unexpected $k")
    val wrong = want.errors.toSeq.flatMap { case (k, x) =>
      got.get(k).toSeq.flatMap { e =>
        val cases = e.failureCases.map(x.canon)
        (if (errors.count(key(_) == k) != 1) Seq(s"$k reported more than once") else Nil) ++
          (if (e.failureCount != x.count) Seq(s"$k count ${e.failureCount} != ${x.count}") else Nil) ++
          (if (cases.size != x.samples) Seq(s"$k has ${cases.size} failure cases, expected ${x.samples}") else Nil) ++
          cases.filterNot(x.values).take(1).map(c => s"$k failure case '$c' was never injected")
      }
    }
    (missing ++ extra).toSeq.sorted ++ wrong
  }

  /** The batch generator. Each row carries at most one injected failure, so
    * every failure counts toward exactly one check. */
  object Gen {
    val BatchRows = 20000
    private val BadTokens = Array("n/a", "abc", "1..5", "x7", "?")
    // cumulative injection thresholds per row
    private val Rates = Seq("line" -> 0.004, "price" -> 0.003, "coerce" -> 0.005,
      "enum" -> 0.004, "null" -> 0.003, "regex" -> 0.005, "wide" -> 0.003, "dup" -> 0.002)
    private val Cum = Rates.scanLeft(0.0)(_ + _._2).tail

    val fileSchema: StructType = StructType(Seq(
      StructField("order_id", LongType, false), StructField("line_no", IntegerType),
      StructField("qty", StringType), StructField("price", DoubleType),
      StructField("discount", StringType), StructField("status", StringType),
      StructField("code", StringType), StructField("grp", StringType),
      StructField("score", DoubleType), StructField("ship_day", IntegerType),
      StructField("receipt_day", IntegerType)))

    private def letters(r: SplittableRandom, n: Int, base: Char): String = {
      val cs = new Array[Char](n)
      for (i <- 0 until n) cs(i) = (base + r.nextInt(26)).toChar
      new String(cs)
    }

    /** Rows of batch `b` and, per injected kind, the failing values. */
    private def generate(seed: Long, b: Int): (Array[Row], Map[String, Seq[String]]) = {
      val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + b)
      val injected = scala.collection.mutable.Map.empty[String, Vector[String]]
        .withDefaultValue(Vector.empty)
      var prevClean = false
      var prevKey = (0L, 0)
      val rows = Array.tabulate(BatchRows) { i =>
        val u = r.nextDouble()
        val drawn = Rates.indices.find(k => u < Cum(k)).map(Rates(_)._1)
        // a duplicate copies the key of a clean predecessor, which no other
        // row copies, so each duplicated key occurs exactly twice
        val kind = drawn.filter(k => k != "dup" || prevClean)
        var orderId = b.toLong * 1000000L + i + 1
        var lineNo = i % 7 + 1
        if (kind.contains("line")) lineNo = 8 + r.nextInt(5)
        if (kind.contains("dup")) { orderId = prevKey._1; lineNo = prevKey._2 }
        val qty =
          if (kind.contains("coerce")) BadTokens(r.nextInt(BadTokens.length))
          else s"${1 + r.nextInt(49)}.${r.nextInt(10)}"
        val price0 = (1 + r.nextInt(500000)) / 100.0
        val price = if (kind.contains("price")) -price0 else price0
        val discount = s"0.0${r.nextInt(10)}"
        val status =
          if (kind.contains("null")) null
          else if (kind.contains("enum")) "XZQ".charAt(r.nextInt(3)).toString
          else "ANR".charAt(r.nextInt(3)).toString
        val code =
          if (kind.contains("regex")) letters(r, 3, 'a') + "-" + (1000 + r.nextInt(9000))
          else letters(r, 3, 'A') + "-" + (1000 + r.nextInt(9000))
        val grp = if (i % 2 == 0) "g1" else "g2"
        val score = (if (i % 2 == 0) 8.0 else 18.0) + 4.0 * r.nextDouble()
        val ship = r.nextInt(300)
        val receipt = if (kind.contains("wide")) ship - 1 - r.nextInt(10) else ship + r.nextInt(31)
        kind.foreach { k =>
          injected(k) = injected(k) :+ (k match {
            case "line"   => lineNo.toString
            case "price"  => price.toString
            case "coerce" => qty
            case "enum"   => status
            case "null"   => "null"
            case "regex"  => code
            case "wide"   => orderId.toString
            case "dup"    => s"$orderId|$lineNo"
          })
        }
        prevClean = kind.isEmpty
        prevKey = (orderId, lineNo)
        Row(orderId, lineNo, qty, price, discount, status, code, grp, score, ship, receipt)
      }
      (rows, injected.toMap)
    }

    def rows(seed: Long, b: Int): Array[Row] = generate(seed, b)._1

    def expect(seed: Long, b: Int): BatchExpect = {
      val inj = generate(seed, b)._2.withDefaultValue(Seq.empty)
      val asIs = (s: String) => s
      val asDouble = (s: String) => s.toDouble.toString
      val firstField = (s: String) => s.takeWhile(_ != '|')
      def e(kind: String, canon: String => String, count: Long = -1L) = {
        val vs = inj(kind)
        val n = if (count >= 0) count else vs.size.toLong
        Expect(n, math.min(vs.size.toLong, Check.DefaultNFailureCases.toLong),
          vs.map(canon).toSet, canon)
      }
      val all = Map(
        ("line_no", "DATAFRAME_CHECK", lineRange.described) -> e("line", asIs),
        ("price", "DATAFRAME_CHECK", pricePositive.described) -> e("price", asDouble),
        ("qty", "DATATYPE_COERCION", "") -> e("coerce", asIs),
        ("status", "DATAFRAME_CHECK", statusEnum.described) -> e("enum", asIs),
        ("status", "SERIES_CONTAINS_NULLS", "") -> e("null", asIs),
        ("code", "DATAFRAME_CHECK", codePattern.described) -> e("regex", asIs),
        ("-", "DATAFRAME_CHECK", shipBeforeReceipt.described) -> e("wide", firstField),
        // every duplicated key is two rows
        ("-", "DUPLICATES", "") -> e("dup", asIs, 2L * inj("dup").size))
      val invalid = Seq("line", "price", "coerce", "enum", "null", "regex", "wide")
        .map(inj(_).size.toLong).sum
      BatchExpect(all.filter(_._2.count > 0), BatchRows - invalid, invalid)
    }
  }
}
