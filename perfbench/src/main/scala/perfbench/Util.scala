package perfbench

/** Just enough JSON to print results and trace lines. */
object Json {
  final case class Raw(s: String)

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case Raw(s)     => s
    case s: String  => str(s)
    case b: Boolean => b.toString
    case i: Int     => i.toString
    case l: Long    => l.toString
    case d: Double  => num(d)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null       => "null"
    case other      => str(other.toString)
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    java.lang.Double.toString(d)
  }

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Files under a directory, seen through the Hadoop FS the program uses. */
object Footprint {
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Data files only: Spark and Hadoop hide bookkeeping files behind a
    * leading `.` or `_` (checksums, `_SUCCESS`), and readers skip them. */
  private def isData(p: Path): Boolean = {
    val n = p.getName
    !n.startsWith(".") && !n.startsWith("_") && !n.endsWith(".json") &&
      !n.endsWith(".bin")
  }

  /** Every data file under `root`, path relative to it, with its size. */
  def dataFiles(fs: FileSystem, root: String): Map[String, Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) return Map.empty
    val it = fs.listFiles(p, true)
    val out = Map.newBuilder[String, Long]
    val prefix = fs.makeQualified(p).toString.stripSuffix("/") + "/"
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(prefix)
      if (rel.split('/').forall(seg => !seg.startsWith(".") && !seg.startsWith("_")) &&
          isData(st.getPath))
        out += rel -> st.getLen
    }
    out.result()
  }

  /** Bytes of every file under `root`, bookkeeping included: what the
    * store costs on disk. */
  def diskBytes(fs: FileSystem, root: String): Long = {
    val p = new Path(root)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }
}
