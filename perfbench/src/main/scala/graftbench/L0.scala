package graftbench

import graft.functions.{Mix60Kernel, VecOps}

/** The "plain run" rung of the kernel ladder: each modal kernel's per-pair
  * math as a single-threaded loop over `double[]` rows, no Spark. It is the
  * reference the two Spark plans are checked against, and its pairs/s per
  * core sizes what a fused tile operator could win.
  *
  * An output row is keyed by (row id, position) — position is the vector
  * component for attention and mlp and 0 for the scalar kernels — and holds
  * (index, value): the sampled class and its weight for the sampler, 0 and
  * the value for the others. */
object L0 {
  val SamplerSeed = "graft"
  /** Query rows the loop is timed on for the kernel ladder. */
  val TimedRows = 128
  type Out = Map[(Long, Long), (Long, Double)]

  final case class Inputs(q: Array[Array[Double]], label: Array[Long],
                          k: Array[Array[Double]], v: Array[Array[Double]])

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def scores(in: Inputs, m: Int): Array[Double] = {
    val s = new Array[Double](in.k.length)
    var n = 0
    while (n < s.length) { s(n) = dot(in.q(m), in.k(n)); n += 1 }
    s
  }

  private def axpy(w: Double, x: Array[Double], acc: Array[Double]): Unit = {
    var d = 0
    while (d < acc.length) { acc(d) += w * x(d); d += 1 }
  }

  private def logSumExp(s: Array[Double]): Double = {
    val mx = s.max
    var acc = 0.0
    var n = 0
    while (n < s.length) { acc += math.exp(s(n) - mx); n += 1 }
    mx + math.log(acc)
  }

  private val Pow260 = 1152921504606846976.0 // 2^60
  private lazy val seed60 = VecOps.seed60(SamplerSeed)

  /** Kernel `name` on query rows [0, rows). Values are unrounded. */
  def run(name: String, in: Inputs, rows: Int): Out = {
    val out = Map.newBuilder[(Long, Long), (Long, Double)]
    val dv = in.v.head.length
    for (m <- 0 until rows) {
      val s = scores(in, m)
      name match {
        case "attention" =>
          val z = logSumExp(s)
          val acc = new Array[Double](dv)
          var n = 0
          while (n < s.length) { axpy(math.exp(s(n) - z), in.v(n), acc); n += 1 }
          for (d <- 0 until dv) out += (m.toLong, d.toLong) -> (0L, acc(d))
        case "mlp" =>
          val acc = new Array[Double](dv)
          var n = 0
          while (n < s.length) { axpy(math.max(s(n), 0.0), in.v(n), acc); n += 1 }
          for (d <- 0 until dv) out += (m.toLong, d.toLong) -> (0L, acc(d))
        case "xentropy" =>
          out += (m.toLong, 0L) -> (0L, logSumExp(s) - s(in.label(m).toInt))
        case "entropy" =>
          val z = logSumExp(s)
          var mean = 0.0
          for (n <- s.indices) mean += math.exp(s(n) - z) * s(n)
          out += (m.toLong, 0L) -> (0L, z - mean)
        case "sampler" =>
          var best = -1
          var bestPert = Double.NegativeInfinity
          for (n <- s.indices) {
            val u = (Mix60Kernel.mix60(seed60, m.toLong, n.toLong).toDouble + 0.5) / Pow260
            val pert = s(n) - math.log(-math.log(u))
            if (pert > bestPert) { bestPert = pert; best = n }
          }
          out += (m.toLong, 0L) -> (best.toLong, math.exp(s(best) - logSumExp(s)))
      }
    }
    out.result()
  }

  /** Single-thread pairs/s of kernel `name` over `rows` query rows, timed
    * over repeats until at least `minSeconds` have passed. */
  def pairsPerSecond(name: String, in: Inputs, rows: Int, minSeconds: Double): Double = {
    run(name, in, rows) // warm the JIT
    var reps = 0
    val t0 = System.nanoTime()
    while (reps == 0 || (System.nanoTime() - t0) / 1e9 < minSeconds) {
      run(name, in, rows)
      reps += 1
    }
    reps.toDouble * rows * in.k.length / ((System.nanoTime() - t0) / 1e9)
  }

  /** Rows of `got` (rounded to `digits`) that disagree with `want` by more
    * than one rounding step, or whose sampled index differs. */
  def mismatches(got: Out, want: Out, digits: Int): Seq[String] = {
    val step = math.pow(10, -digits)
    val missing = (want.keySet -- got.keySet).toSeq.take(3).map(k => s"missing $k")
    val extra = (got.keySet -- want.keySet).toSeq.take(3).map(k => s"extra $k")
    val bad = got.toSeq.flatMap { case (key, (gi, gv)) =>
      want.get(key).flatMap { case (wi, wv) =>
        if (gi != wi) Some(s"$key index $gi != $wi")
        else if (math.abs(gv - wv) > step * 1.01 + 1e-9 * math.abs(wv))
          Some(s"$key value $gv != $wv")
        else None
      }
    }
    missing ++ extra ++ bad.take(5)
  }
}
