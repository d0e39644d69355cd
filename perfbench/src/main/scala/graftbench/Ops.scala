package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.VecOps
import graft.operators.{Attention, Entropy, Mlp, PairPlan, Sampler, XEntropy}

/** One timed operation. `build` is the call into the program; the harness
  * then sinks the DataFrame it returns. */
final case class Op(name: String, build: SparkSession => DataFrame)

/** The workloads' operations, in their fixed order. */
object Ops {

  /** `loops`: iterative and streaming queries, driver- and scheduler-bound. */
  val loopQueries: Seq[String] = Seq("parts_kcore", "heavy_hitters_stream")

  def loops(dir: String): Seq[Op] =
    loopQueries.map(n => Op(n, s => SparkEntry.queries(n)(s, dir)))

  val kernelNames: Seq[String] = Seq("attention", "mlp", "xentropy", "entropy", "sampler")
  val modes: Seq[(String, PairPlan.Mode)] =
    Seq("blocked" -> PairPlan.Blocked, "broadcast" -> PairPlan.Broadcast)

  /** `kernels`: the five pair kernels under both plans. The arm order
    * alternates with the pass number, so warm-in bias cancels over passes. */
  def kernels(dir: String, pass: Int): Seq[Op] = {
    val arms = if (pass % 2 == 0) modes else modes.reverse
    for (k <- kernelNames; (arm, mode) <- arms)
      yield Op(s"$k.$arm", s => kernel(k, qSide(s, dir), kvSide(s, dir), mode))
  }

  def qSide(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/q")
  def kvSide(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/kv.parquet")

  /** The modal kernel `name` over q (q_id, qvec, label) and kv (k_id, kvec,
    * vvec), projected and rounded like the project's graded kernel queries. */
  def kernel(name: String, q: DataFrame, kv: DataFrame, mode: PairPlan.Mode): DataFrame =
    name match {
      case "attention" =>
        Attention.attention(q.drop("label"), kv, scale = false, mode = mode)
          .select(col("q_id"), posexplode(col("out")))
          .select(col("q_id"), col("pos").cast("long").as("d"),
            VecOps.qround(col("col"), 4).as("v"))
      case "mlp" =>
        Mlp.mlp(q.select(col("q_id").as("b_id"), col("qvec").as("xvec")),
          kv.select(col("k_id"), col("kvec").as("pvec"), col("vvec").as("qvec")), mode)
          .select(col("b_id"), col("d"), VecOps.qround(col("v"), 4).as("v"))
      case "xentropy" =>
        XEntropy.xentropy(
          q.select(col("q_id").as("m_id"), col("qvec").as("mvec"), col("label")),
          kv.select(col("k_id"), col("kvec")), mode)
          .select(col("m_id"), VecOps.qround(col("loss"), 4).as("loss"))
      case "entropy" =>
        Entropy.entropy(q.select(col("q_id").as("m_id"), col("qvec").as("mvec")),
          kv.select(col("k_id"), col("kvec")), mode)
          .select(col("m_id"), VecOps.qround(col("h"), 4).as("h"))
      case "sampler" =>
        Sampler.sampler(q.select(col("q_id").as("m_id"), col("qvec").as("mvec")),
          kv.select(col("k_id"), col("kvec")), seed = L0.SamplerSeed, mode = mode)
          .select(col("m_id"), col("c"), VecOps.qround(col("weight"), 6).as("weight"))
    }
}
