package graft.cli

import graft.matching.ScoringLoss

/** `ScoringLossMain <pairs.json> [threshold]` — the pair-file loss
  * scoreboard (reference `contrib/scoring_loss.py`): per-algorithm mean
  * absolute loss + confusion matrix over a judged-pairs JSON-lines
  * file.
  */
object ScoringLossMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScoringLossMain <pairs.json> [threshold]")
    val threshold = args.lift(1).map(_.toDouble).getOrElse(0.7)
    val spark = CliArgs.session("scoring-loss")
    val pairs = ScoringLoss.readPairs(spark, args(0))
    val scored = ScoringLoss.scoredPairs(pairs)
    ScoringLoss.report(scored, threshold).show(50, truncate = false)
    spark.stop()
  }
}
