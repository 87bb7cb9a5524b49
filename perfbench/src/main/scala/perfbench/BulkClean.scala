package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.backend.Validator
import graft.checks.Check
import graft.schema.{ColumnSchema, DataFrameSchema}

/** One large clean lineitem-shaped table, validated whole per op against a
  * contract that uses every builtin row-check kind, nullability, dtypes and
  * a composite unique key. Per-row work dominates: the fused aggregate
  * scan and the uniqueness shuffle. Clean by construction, so the expected
  * report is empty and failure-case sampling never runs. */
final class BulkClean(ctx: Ctx) extends Workload {
  import BulkClean._

  private val spark = ctx.spark
  private val dir = ctx.path("lineitem")
  private var tableBytes = 0L

  def primaryKind = "validate"
  def minSteps = 2

  private def generate(): Unit = {
    val files = 2 * ctx.cores
    // every value is a hash of (seed, row, column): the same seed writes
    // the same bytes whatever the task scheduling
    def h(k: Int) = xxhash64(lit(ctx.o.seed), col("id"), lit(k))
    def pick(k: Int, n: Long) = pmod(h(k), lit(n))
    spark.range(0L, Rows, 1L, files).select(
      expr("id div 4 + 1").as("l_orderkey"),
      (pick(1, 200000L) + 1L).as("l_partkey"),
      (pick(2, 10000L) + 1L).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1L).cast(IntegerType).as("l_linenumber"),
      (pick(3, 50L) + 1L).cast(DoubleType).as("l_quantity"),
      ((pick(3, 50L) + 1L) * (lit(900.0) + pick(4, 100000L) / 100.0))
        .as("l_extendedprice"),
      (pick(5, 11L) / 100.0).as("l_discount"),
      (pick(6, 9L) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pick(7, 3L) + 1L).cast(IntegerType))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (pick(8, 2L) + 1L).cast(IntegerType))
        .as("l_linestatus"),
      lit("USD").as("l_currency"),
      date_add(to_date(lit("1992-01-01")), pick(9, 2500L).cast(IntegerType))
        .cast(TimestampNTZType).as("l_shipdate"))
      .write.parquet(dir)
    tableBytes = Footprint.dataFiles(ctx.fs, dir).values.sum
  }

  def setup(): Unit = {
    ctx.phase("generate")(generate())
    // JIT, codegen and the parquet path keep getting faster over the
    // first calls; measured calls start once they have levelled off
    ctx.phase("warmup")((1 to WarmupCalls).foreach(_ => validateOnce()))
  }

  private def validateOnce() = {
    val df = spark.read.parquet(dir)
    ctx.span("backend.validate", tableBytes)(Validator.validate(schema, df))
  }

  def step(): Unit = {
    ctx.nextCycle()
    val expectFake = ctx.plant()
    ctx.op("validate", Rows) {
      validateOnce().errors
    } { errors =>
      // the generator keeps every value inside its check's bounds and
      // every (l_orderkey, l_linenumber) distinct
      val got = errors.map(e => s"${e.column.getOrElse("-")}:${e.check}=${e.failureCount}")
      val want = if (expectFake) Seq("l_quantity:planted=1") else Nil
      if (got == want) Nil else Seq(s"expected report $want, got $got")
    }
  }

  def inputsDigest(): String = {
    generate()
    Digest.of(spark, ctx.fs, Seq(dir), s"bulk_clean rows=$Rows report=[]")
  }

  override def reportLines(): Seq[String] = Seq(
    s"input rows=$Rows files=${2 * ctx.cores} bytes=$tableBytes")
}

object BulkClean {
  val Rows = 2000000L
  val WarmupCalls = 5

  val schema: DataFrameSchema = DataFrameSchema(
    "l_orderkey" -> ColumnSchema(Some(LongType), Seq(Check.ge(1L)), nullable = false),
    "l_partkey" -> ColumnSchema(Some(LongType), Seq(Check.greaterThan(0L)), nullable = false),
    "l_suppkey" -> ColumnSchema(Some(LongType), Seq(Check.notEqualTo(-1L))),
    "l_linenumber" -> ColumnSchema(Some(IntegerType), Seq(Check.inRange(1, 7))),
    "l_quantity" -> ColumnSchema(Some(DoubleType), Seq(Check.inRange(1.0, 50.0))),
    "l_extendedprice" -> ColumnSchema(Some(DoubleType),
      Seq(Check.greaterThan(0.0), Check.lessThan(1e9))),
    "l_discount" -> ColumnSchema(Some(DoubleType), Seq(Check.ge(0.0), Check.le(0.1))),
    "l_tax" -> ColumnSchema(Some(DoubleType), Seq(Check.lt(0.09), Check.le(0.08))),
    "l_returnflag" -> ColumnSchema(Some(StringType),
      Seq(Check.isin(Seq("A", "N", "R")), Check.strLength(Some(1), Some(1)),
        Check.strMatches("[ANR]")), nullable = false),
    "l_linestatus" -> ColumnSchema(Some(StringType),
      Seq(Check.notin(Seq("X", "Y")), Check.strContains("[FO]"),
        Check.strStartswith(""), Check.strEndswith(""))),
    "l_currency" -> ColumnSchema(Some(StringType), Seq(Check.equalTo("USD"))),
    "l_shipdate" -> ColumnSchema(Some(TimestampNTZType), Nil, nullable = false))
    .copy(unique = Seq("l_orderkey", "l_linenumber"))
}
