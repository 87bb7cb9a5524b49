package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, t0Ms: Long, work: String, traceOut: String,
    inputsOnly: Boolean, plantWrong: Boolean)

/** One timed op. `cycle` groups the ops of one closed-loop iteration;
  * compactions carry cycle -1 and count toward throughput only. */
final case class Op(kind: String, cycle: Int, ms: Double, cpuMs: Double,
    rows: Long, ok: Boolean, traced: Boolean, gcMs: Long)

/** State shared by the loop and the workloads. */
final class Ctx(val spark: SparkSession, val o: Opts, val cores: Int) {
  val tracer: Option[Tracer] =
    if (o.trace) Some(new Tracer(spark.sparkContext)) else None
  val ops = mutable.ArrayBuffer.empty[Op]
  private var cycle = -1
  private var planted = !o.plantWrong

  def fs: org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  def path(rel: String): String = s"${o.work}/$rel"

  /** Wall seconds of each named set-up phase, for the report. */
  val setupPhases = mutable.ArrayBuffer.empty[(String, Double)]
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally {
      setupPhases += name -> (System.nanoTime() - t0) / 1e9
      System.err.println(s"[perfbench] setup $name ${setupPhases.last._2} s")
    }
  }

  /** Starts the next closed-loop iteration. A traced run records spans on
    * every other iteration, so the iterations between them measure the
    * same work untraced; the difference is the tracing overhead. */
  def nextCycle(): Unit = {
    cycle += 1
    tracer.foreach(_.enabled = cycle % 2 == 0)
  }

  /** Runs `body` as one traced span (a no-op wrapper when not tracing). */
  def span[A](name: String, baseBytes: Long = 0L)(body: => A): A =
    tracer.fold(body)(_.span(name, baseBytes)(body))

  /** Set when set-up is over and the measured loop starts. */
  var measuring = false

  /** True exactly once, for the first measured op's expectation, when the
    * run was asked to plant a wrong expectation (the self-check's probe
    * that a wrong answer cannot pass silently). */
  def plant(): Boolean = {
    val p = measuring && !planted
    if (measuring) planted = true
    p
  }

  /** Times one op and checks its answer outside the timed region. `check`
    * returns the mismatches against the generator's expectation; a throw
    * or any mismatch fails the op. Returns the op's value when it ran. */
  def op[A](kind: String, rows: Long, compaction: Boolean = false)(
      body: => A)(check: A => Seq[String]): Option[A] = {
    val traceWas = tracer.exists(_.enabled)
    if (compaction) tracer.foreach(_.enabled = true)
    val traced = tracer.exists(_.enabled)
    val gc0 = Ctx.gcMs()
    val cpu0 = Ctx.cpuNs()
    val t0 = System.nanoTime()
    val res =
      try Right(span(kind)(body))
      catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Ctx.cpuNs() - cpu0) / 1e6
    val gc = Ctx.gcMs() - gc0
    tracer.foreach(_.drain())
    val problems = res match {
      case Right(a) =>
        try check(a) catch { case e: Exception => Seq(s"check threw: $e") }
      case Left(e) => Seq(s"threw: $e")
    }
    System.err.println(f"[perfbench] op $kind cycle $cycle $ms%.1f ms cpu $cpuMs%.1f ms gc $gc ms")
    problems.take(3).foreach(p => System.err.println(s"[perfbench] $kind failed: $p"))
    res match { case Left(e) => e.printStackTrace(); case _ => }
    ops += Op(kind, if (compaction) -1 else cycle, ms, cpuMs,
      if (problems.isEmpty) rows else 0L, problems.isEmpty, traced, gc)
    if (compaction) tracer.foreach(_.enabled = traceWas)
    res.toOption
  }
}

object Ctx {
  /** CPU time of the whole process: driver, executor threads, JIT and GC.
    * Time the machine takes the CPU away from the process is not in it. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }
}

/** One benchmark workload: a closed loop with one client. */
trait Workload {
  /** The op whose latency is the workload's `op_p50_ms`. */
  def primaryKind: String
  /** Generates the inputs from the seed, builds stores, warms up. */
  def setup(): Unit
  /** One step of the loop: one or more cycles (see [[Ctx.nextCycle]]). */
  def step(): Unit
  /** Steps a traced run makes whatever `--seconds` says, so that the
    * counts taken over the first traced cycles always exist. */
  def minSteps: Int
  /** Generates the inputs only; returns a digest of the input bytes and of
    * the expectations kept for them. */
  def inputsDigest(): String
  /** Per-layer metrics the workload measures itself (store footprint). */
  def layerMetrics(): Map[String, Double] = Map.empty
  /** Extra report lines (name, value, unit, samples). */
  def reportLines(): Seq[String] = Nil
}

/** Digest of generated files and expectations, for the determinism check.
  * Text inputs count byte for byte. A parquet file counts by its length and
  * its decoded rows: the parquet writer lists each column chunk's encodings
  * from a hash set whose order differs between JVMs, so its footer bytes do
  * too. */
object Digest {
  def of(spark: org.apache.spark.sql.SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      roots: Seq[String], expectations: String): String = {
    import org.apache.spark.sql.functions._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val parent = new java.io.File(roots.head).getParent
    // part-file names carry a per-write random id; files are keyed by
    // directory and part number
    roots.flatMap(root => Footprint.dataFiles(fs, root).toSeq.map { case (rel, n) => (s"$root/$rel", n) })
      .map { case (path, n) => (path.replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1"), path, n) }
      .sortBy(_._1)
      .foreach { case (key, path, n) =>
        md.update(s"${key.stripPrefix(parent)} $n".getBytes("UTF-8"))
        if (path.endsWith(".parquet")) {
          val df = spark.read.parquet(path)
          val h = xxhash64(df.columns.toIndexedSeq.map(col): _*)
          val r = df.agg(sum(pmod(h, lit(Int.MaxValue.toLong))), bit_xor(h), count(lit(1))).head()
          md.update(r.toSeq.mkString(" ").getBytes("UTF-8"))
        } else {
          val in = fs.open(new org.apache.hadoop.fs.Path(path))
          try {
            val buf = new Array[Byte](1 << 16)
            var k = in.read(buf)
            while (k > 0) { md.update(buf, 0, k); k = in.read(buf) }
          } finally in.close()
        }
      }
    md.update(expectations.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }
}
