package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Sequence packing for training pipelines: assign documents, in a
  * deterministic global order, to contiguous fixed-budget bins (training
  * sequences of ~budget tokens). The bin of a document is decided by the
  * EXACT prefix sum of weights before it: `bin = (sum of earlier weights)
  * div budget` — the greedy contiguous packing every data loader can
  * reconstruct, and an ANSI-SQL window can oracle. The prefix sum is the
  * two-phase distributed [[PrefixScan]], never a single-partition global
  * window, so the output is a pure function of (order, weight, budget). */
object Packing {

  /** Returns (id, bin): `id` cast to long, `bin` = 0-based bin index under
    * `budget` (a document larger than the budget still gets the bin its
    * start offset falls in — callers split oversized docs upstream).
    * `order` must be a TOTAL order (unique values, e.g. the doc id) — with
    * ties the prefix sum depends on tie placement; weights must be
    * non-null. */
  def assignBins(df: DataFrame, id: Column, order: Column, weight: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val scan = PrefixScan(
      df.select(id.cast("long").as("_id"), order.as("_o"), weight.cast("long").as("_w")),
      Seq(col("_o")), 1)((r, acc) => acc(0) += r.getLong(2))
    scan.frame("id", "bin") { (off, it) =>
      it.map { r =>
        val before = off(0)
        off(0) += r.getLong(2)
        Row(r.getLong(0), before / budget)
      }
    }
  }

  /** Materialize packed bins into TRAINING SEQUENCES: one row per bin with
    * its member documents concatenated in global `order` — the final text a
    * data loader feeds a tokenizer ([[assignBins]] decides membership; this
    * builds the sequence). `order` must cast to long (it is the sort key
    * inside each bin's assembly kernel).
    *
    * Scale shape: one 8-byte-keyed shuffle on `bin`; each reduce group is
    * ONE bin — bounded at ~budget tokens plus one doc's overshoot by
    * construction, so group state never grows with corpus size (split
    * oversized docs upstream with
    * [[graft.text.TextOps.splitOversized]]). The in-group concat is a
    * primitive sort+mkString kernel on the collected (order, text) structs.
    * Output: (bin, seq_text, n_docs, total_tokens). */
  def packedSequences(
      df: DataFrame,
      text: Column,
      id: Column,
      order: Column,
      weight: Column,
      budget: Long,
      sep: String = " "
  ): DataFrame = {
    val bins = assignBins(df, id, order, weight, budget)
    val keyed = df
      .select(id.cast("long").as("id"), order.cast("long").as("_o"),
        text.as("_t"), weight.cast("long").as("_w"))
      .join(bins, Seq("id"))
    val sepL = sep
    val assemble = udf { (xs: Seq[Row]) =>
      xs.sortBy(_.getLong(0)).map(_.getString(1)).mkString(sepL)
    }
    keyed
      .groupBy("bin")
      .agg(
        assemble(collect_list(struct(col("_o"), col("_t")))).as("seq_text"),
        count(lit(1)).as("n_docs"),
        sum(col("_w")).as("total_tokens"))
  }
}
