package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interleaved, order-alternating A/B of one size gate's two arms
  * (round 15), in ONE JVM so box drift hits both arms equally. Arm A
  * is the gate's low-side plan, arm B its high-side plan:
  *
  *  - `prefix_join`: the verify tail's doc-sized `sets` broadcasts vs
  *    candidate-side SHUFFLE_HASH builds
  *    (`prefixJoinImpl(shuffleHashVerify)`);
  *  - `rare_shingle`: string trigram join keys vs 60-bit md5-hashed
  *    longs (`rareShinglePairsImpl(hashKeys)`).
  *
  * Order alternates per round (AB, BA, AB, …) so within-pair JVM/GC
  * position bias cancels instead of always favoring the second arm.
  * Dev tool only — never invoked by the driver; the enrolled rows are
  * untouched by whatever this measures. Usage:
  * `runMain graft.tools.Ab <pair> <sfDir> [rounds]`. */
object Ab {
  /** pair → (arm labels, plan of each arm: false = A, true = B). */
  val pairs: Map[String, ((String, String),
      (SparkSession, String, Boolean) => DataFrame)] = Map(
    "prefix_join" -> (("broadcast", "shuffle_hash"),
      graft.operators.Analytics.prefixJoinImpl(_, _, _)),
    "rare_shingle" -> (("strings", "hashed"),
      graft.operators.LlmOps.rareShinglePairsImpl(_, _, _)))

  def main(args: Array[String]): Unit = {
    val ((la, lb), build) = pairs.getOrElse(args(0), sys.error(
      s"unknown pair ${args(0)}; have ${pairs.keys.toSeq.sorted.mkString(", ")}"))
    val sfDir = args.lift(1).getOrElse("testdata-sf1")
    val rounds = args.lift(2).map(_.toInt).getOrElse(6)
    val spark = GraftSession.local()
    def once(b: Boolean): Double = {
      val dt = GraftSession.timeNoop(spark)(build(spark, sfDir, b))
      require(dt >= 0, s"${args(0)} arm ${if (b) lb else la} failed")
      dt
    }
    once(false); once(true) // warmup both arms, not recorded
    val (as, bs) = (1 to rounds).map { i =>
      val (a, b) = if (i % 2 == 1) {
        val a0 = once(false); val b0 = once(true); (a0, b0)
      } else {
        val b0 = once(true); val a0 = once(false); (a0, b0)
      }
      println(f"[ab round $i] $la $a%.3f s | $lb $b%.3f s" +
        (if (i % 2 == 0) s" ($lb first)" else ""))
      (a, b)
    }.unzip
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    println(f"[ab] $la min ${as.min}%.3f median ${median(as)}%.3f | " +
      f"$lb min ${bs.min}%.3f median ${median(bs)}%.3f")
    spark.stop()
  }
}
