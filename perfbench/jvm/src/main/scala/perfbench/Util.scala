package perfbench

/** Minimal JSON output for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Order statistics and timers. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The highest whole percentile (at most 99) that leaves at least ten
    * samples above it, as (percentile, value); the median when fewer than
    * twenty samples leave no such percentile above it.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = math.max(50, math.min(99, math.floor(100.0 * (xs.size - 10) / xs.size).toInt))
    (p, quantile(xs, p / 100.0))
  }

  /** [[secs]] after a full collection, so garbage left by earlier calls
    * is not collected inside this one's timed region.
    */
  def gcSecs[T](body: => T): (T, Double) = {
    System.gc()
    secs(body)
  }

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** File-tree helpers for the benchmark's work directories. */
object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (file count, bytes) of the data files under a directory. */
  def usage(f: java.io.File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(usage)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.getName.endsWith(".parquet")) (1L, f.length)
    else (0L, 0L)

  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum
    else f.length
}
