package perfbench

/** Small numeric and JSON helpers shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A fixed single-threaded integer kernel. Its time tracks how much CPU
    * this process is getting; recorded beside every run so that runs on a
    * contended host can be flagged.
    */
  def calibrate(): Double = {
    val (_, s) = time {
      var h = 1L; var i = 0
      while (i < 20000000) { h = graft.kernel.Hash64.mix(h); i += 1 }
      if (h == 42L) println("")
    }
    s
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric is not a finite number: $d")
    d.toString
  }
}
