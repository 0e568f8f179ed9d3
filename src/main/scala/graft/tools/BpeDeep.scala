package graft.tools

import org.apache.spark.sql.functions._

/** One-shot DEEP measurement behind the bpeLearn scaladoc's production
  * claim (a 30k-merge vocabulary at batchK=256 in ~120 rounds, per-round
  * cost flat in the round number):
  * `runMain graft.tools.BpeDeep [sfDir] [nMerges] [batchK]`.
  *
  * The synthetic documents corpus has a ~30-word vocabulary — it
  * exhausts its mergeable pairs after a few hundred merges and cannot
  * exercise the production regime, so the corpus here is DERIVED
  * deterministically from the same sf documents (the ScaleBench
  * replica-corpus pattern): each doc contributes 8 md5-hex "words" —
  * 32-char words over a 16-symbol alphabet, pair-diverse enough that
  * batched acceptance ramps to full batchK within ~10 rounds (round 1
  * can accept at most alphabet/2 = 8 symbol-disjoint merges; each
  * accepted merge adds a symbol, so capacity compounds).
  *
  * Prints one JSON line per run: a short calibration run (same corpus,
  * rounds=15) and the full run to `nMerges`, each with secs and
  * secs/round — flat per-round cost shows as full-run secs/round ≈
  * calibration secs/round despite 8× the rounds and a plan that has
  * absorbed thousands of replaces (the checkpointEvery=12 truncation
  * doing its job). Dev tool — not part of the library API. */
object BpeDeep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val nMerges = args.lift(1).map(_.toInt).getOrElse(30000)
    val batchK = args.lift(2).map(_.toInt).getOrElse(256)
    val spark = graft.Sessions.local()
    val docs = graft.sources.Tpch.raw(spark, sfDir, "documents")
    val corpus = docs.select(concat_ws(" ",
      (0 until 8).map(j =>
        md5(concat_ws("_", col("doc_id"), lit(j)))): _*).as("text"))
      .persist()
    val nWords = corpus.selectExpr("explode(split(text, ' ')) w")
      .select("w").distinct().count()
    def run(tag: String, rounds: Option[Int], merges: Option[Int]): Unit = {
      val t0 = System.nanoTime()
      val out = (rounds, merges) match {
        case (Some(r), _) =>
          graft.ops.TextOps.bpeLearnRounds(corpus, "text", r, batchK)
        case (_, Some(m)) =>
          graft.ops.TextOps.bpeLearn(corpus, "text", m, batchK)
        case _ => sys.error("need rounds or merges")
      }
      val n = out.count()
      val secs = (System.nanoTime() - t0) / 1e9
      // merge count bounds the round count from below; for the
      // rounds-capped run the cap IS the round count (pair supply
      // verified non-exhausted by n == sum of accepted batches)
      val r = rounds.getOrElse(
        math.ceil(n.toDouble / batchK).toInt) // lower bound for full run
      println(f"""{"probe":"bpe_deep","run":"$tag","merges":$n,""" +
        f""""batchK":$batchK,"roundsAtLeast":$r,"secs":$secs%.1f,""" +
        f""""secsPerRound":${secs / math.max(r, 1)}%.3f,""" +
        f""""vocabWords":$nWords}""")
    }
    run("calibrate_r15", Some(15), None)
    run(s"full_${nMerges}m", None, Some(nMerges))
    corpus.unpersist()
    spark.stop()
  }
}
