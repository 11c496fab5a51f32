package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.Materialize

/** Byte-pair-encoding merge training (Sennrich, Haddow & Birch,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016) — the tokenizer-training half of an LLM data pipeline.
  *
  * The classic algorithm is inherently iterative (count adjacent
  * symbol pairs → merge the most frequent → repeat), and the classic
  * scale trick makes it cheap anyway: pair statistics are computed
  * over the WORD-FREQUENCY table, not the corpus. Here that means
  * exactly ONE corpus-sized pass (tokenize + word count, map-side
  * combining); every training round after it runs on the vocab table
  * — thousands of rows at any corpus size — with the chosen merge, a
  * single row, collected to the driver per round (that collect is the
  * algorithm, not a scaling liability).
  *
  * Merge application is a boundary-anchored string replace over the
  * space-joined symbol representation (`' A B '` → `' AB '`), applied
  * three times per round: `replace` in both Spark and DuckDB scans
  * left-to-right non-overlapping, so a chain of adjacent occurrences
  * sharing a boundary space can leave a straggler per pass; two extra
  * passes close all chains up to the lengths seen in natural text,
  * and the exact same composition runs on the oracle side, so the
  * semantics are engine-exact by construction.
  */
object Bpe {

  /** Rows pulled to the driver by [[train]]'s argmax collects, for the
    * PipelineSpec invariant guard. INVARIANT (do not relax): the ONLY
    * data that crosses the executor→driver boundary during training is
    * the single rank-1 merge pair per round — the pair-count table and
    * the vocab stay distributed (materialized, never collect). A
    * future edit that collects the counts table breaks BPE at corpus
    * scale; the spec pins this counter to exactly `rounds` rows. */
  private[graft] val driverCollectedRows = new java.util.concurrent.atomic.AtomicLong(0)

  /** Space-joined character representation of a word (the round-0
    * symbol sequence). Spark's `split` keeps a trailing empty capture
    * on an empty regex — filter it, DuckDB's char split has none. */
  private def charRepr(w: Column): Column =
    concat_ws(" ", filter(split(w, ""), c => c =!= ""))

  /** Adjacent symbol pairs of a repr, each as "A B". */
  private def pairsOf(repr: Column): Column = {
    val syms = split(repr, " ")
    val n = size(syms)
    zip_with(slice(syms, lit(1), n - 1), slice(syms, lit(2), n - 1),
      (a, b) => concat_ws(" ", a, b))
  }

  /** One boundary-anchored merge pass: ' A B ' -> ' AB ' (plain
    * left-to-right non-overlapping string replace, same scan order
    * as DuckDB's `replace`). */
  private def mergeOnce(repr: Column, pair: String, merged: String): Column =
    call_function("replace", repr, lit(" " + pair + " "), lit(" " + merged + " "))

  /** Train `rounds` BPE merges over the corpus, reporting the top-K
    * pair table of every round: (round, rank, pair, cnt), rank 1 =
    * the merge applied before the next round. Ties pin to the
    * lexicographically smaller pair. The caller owns the per-round
    * tables the result reads ([[Materialize]]). */
  def train(docs: DataFrame, textCol: String = "text", rounds: Int = 2,
      topK: Int = 8): DataFrame =
    Materialize.scope(docs.sparkSession, "Bpe.train") { m =>
      // the ONLY corpus-sized stage: word frequencies
      // the vocab is corpus-vocabulary-scale and lives across every
      // training round; each round's vocab is freed on return
      var vocab = m("vocab")(docs
        .select(explode(Text.tokens(col(textCol))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(charRepr(col("w")).as("repr"), col("freq")))
      // post-limit topK rows only, but keep a non-foldable constant key
      // so WindowExec doesn't warn on every training round (the warning
      // noise would mask real single-partition regressions in the bench)
      val wRank = Window
        .partitionBy(graft.operators.GlobalRank.onePartitionKey(col("cnt")))
        .orderBy(col("cnt").desc, col("pair").asc)
      val roundTables = (1 to rounds).map { r =>
        // pinned: the next round mutates vocab under it; the returned
        // table reads it, so the caller owns it
        val ranked = m("ranked")(vocab
          .select(col("freq"), explode(pairsOf(col("repr"))).as("pair"))
          .groupBy("pair").agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc).limit(topK)
          .select(lit(r).as("round"), row_number().over(wRank).as("rank"),
            col("pair"), col("cnt")))
        // the argmax collect: exactly ONE row per round (see
        // driverCollectedRows invariant above)
        val bestRows = ranked.filter(col("rank") === 1).select("pair").collect()
        driverCollectedRows.addAndGet(bestRows.length.toLong)
        val best = bestRows.headOption.map(_.getString(0))
        best.foreach { p =>
          val merged = p.replace(" ", "")
          val padded = concat(lit(" "), col("repr"), lit(" "))
          val appliedPad = (1 to 3).foldLeft(padded)((c, _) => mergeOnce(c, p, merged))
          vocab = m("vocab")(vocab.select(trim(appliedPad).as("repr"), col("freq")))
        }
        ranked
      }
      roundTables.reduce(_ unionByName _).orderBy("round", "rank")
    }
}
