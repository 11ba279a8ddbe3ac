package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-sequence packing: lay the corpus out as one deterministic
  * token stream (documents in id order, concatenated) and cut it into
  * fixed-length training sequences — the concat-and-split batching GPT
  * pipelines use. Each document learns where it lands:
  * `token_start` (its global offset), `seq_start` (the sequence holding
  * its first token), `seq_offset` (position within that sequence) and
  * `seqs_spanned` (how many sequences it crosses).
  *
  * The computation is a GLOBAL prefix sum over the id order — the naive
  * form (`sum() over (order by id)`) drags the whole corpus through ONE
  * window partition. The scale shape here is the classic two-level
  * decomposition over ORDER-CONTIGUOUS buckets (`id DIV bucketSpan`):
  *
  *  1. per-bucket token totals — one map-combinable groupBy producing
  *     #buckets rows;
  *  2. prefix over the bucket totals — a window over that TINY frame
  *     (#buckets rows, not #docs; a million buckets is still a driver-
  *     sized sort);
  *  3. per-document prefix WITHIN its bucket — windows partitioned by
  *     bucket, parallel across the cluster;
  *  4. global offset = bucket base + within-bucket prefix, and the
  *     sequence arithmetic is per-row integer DIV/MOD from there.
  *
  * No sampling anywhere (`repartitionByRange` is deliberately avoided —
  * its boundary sampling makes bucket membership run-dependent), so the
  * layout is bit-stable across runs, partitionings and engines: the
  * oracle recomputes it with a plain running-sum window.
  *
  * Contract: `idCol` must be non-negative (integer DIV truncation ==
  * floor only there; both engines agree on non-negatives) and the pack
  * order is ascending `idCol`, ids unique.
  */
object SeqPack {

  /** Pack `docs` (id, n_tokens, ...) into `seqLen`-token sequences.
    * Adds (bucket, token_start, seq_start, seq_offset, seqs_spanned).
    * Empty documents (0 tokens) occupy no stream space: they report
    * their boundary position and span 0 sequences. */
  def pack(docs: DataFrame, idCol: String, tokensCol: String,
      seqLen: Long, bucketSpan: Long = 1L << 20): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive (got $seqLen)")
    require(bucketSpan > 0, s"bucketSpan must be positive (got $bucketSpan)")
    val bucketed = docs.withColumn("bucket",
      expr(s"`$idCol` DIV $bucketSpan"))

    // #buckets rows — the single-partition window here sorts the bucket
    // SUMMARIES, never the corpus
    val bases = bucketed
      .groupBy(col("bucket"))
      .agg(sum(col(tokensCol)).as("__btokens"))
      .withColumn("__base",
        coalesce(sum(col("__btokens")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("__base"))

    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)

    bucketed
      .join(broadcast(bases), Seq("bucket"))
      .withColumn("token_start",
        col("__base") + coalesce(sum(col(tokensCol)).over(wIn), lit(0L)))
      .drop("__base")
      .withColumn("seq_start", expr(s"token_start DIV $seqLen"))
      .withColumn("seq_offset", pmod(col("token_start"), lit(seqLen)))
      .withColumn("seqs_spanned",
        when(col(tokensCol) <= 0L, lit(0L))
          .otherwise(
            expr(s"(token_start + `$tokensCol` - 1) DIV $seqLen") -
              col("seq_start") + 1L))
  }

  /** Materialize the packed stream — the dataloader deliverable: per
    * sequence, the actual tokens in stream order. Each document
    * explodes into its (sequence, token-slice) pieces — bounded fan-out
    * (`ceil(tokens/seqLen)+1` per document), computed with declarative
    * `slice` on the split array so nothing leaves codegen — and ONE
    * groupBy(seq_id) assembles every sequence from its pieces sorted by
    * stream offset. Output: (seq_id, n_docs, n_tokens, seq_text) —
    * the tail sequence may be partial. Tokens are the [[WordTokens]] of
    * `textCol` (ids come from a real
    * tokenizer upstream at cluster scale; the LAYOUT math is the
    * operator). */
  def materialize(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Long, bucketSpan: Long = 1L << 20): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive (got $seqLen)")
    val ws = WordTokens.tokensCol(col(textCol))
    val packed = pack(
      docs.withColumn("__ws", ws)
        .withColumn("__n", size(col("__ws")).cast("long")),
      idCol, "__n", seqLen, bucketSpan)
      .filter(col("__n") > 0L)
    packed
      .select(col("token_start"), col("__ws"), col("__n"),
        explode(sequence(col("seq_start"),
          col("seq_start") + col("seqs_spanned") - 1L)).as("seq_id"))
      .withColumn("__seq_lo", col("seq_id") * seqLen)
      .withColumn("__from",
        greatest(col("token_start"), col("__seq_lo")))
      .withColumn("__cnt",
        least(col("token_start") + col("__n"), col("__seq_lo") + seqLen) -
          col("__from"))
      .withColumn("__piece",
        slice(col("__ws"), (col("__from") - col("token_start") + 1L)
          .cast("int"), col("__cnt").cast("int")))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__cnt")).as("n_tokens"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("__from"), col("__piece")))),
          p => p.getField("__piece"))), " ").as("seq_text"))
  }

  /** Per-sequence occupancy: how many documents contribute to each
    * sequence and how many tokens of it are filled (the tail sequence
    * may be partial). Derived from [[pack]] output by exploding each
    * document over the sequences it spans — bounded fan-out
    * (ceil(tokens/seqLen)+1 per document). */
  def sequenceStats(packed: DataFrame, tokensCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive (got $seqLen)")
    packed
      .filter(col(tokensCol) > 0L)
      .select(col("token_start"), col(tokensCol).as("__n"),
        explode(sequence(col("seq_start"),
          col("seq_start") + col("seqs_spanned") - 1L)).as("seq_id"))
      .withColumn("__seq_lo", col("seq_id") * seqLen)
      .withColumn("__tok_in_seq",
        least(col("token_start") + col("__n"), col("__seq_lo") + seqLen) -
          greatest(col("token_start"), col("__seq_lo")))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("docs"),
        sum(col("__tok_in_seq")).as("tokens_filled"))
  }
}
