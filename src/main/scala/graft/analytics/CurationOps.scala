package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.XHash
import graft.util.Tables

/** Dataset-curation family for an LLM training-data pipeline over the
  * `documents` table — the ops a 100 TB corpus build needs BETWEEN raw
  * ingest (the CDC engine) and training: sequence packing, deterministic
  * stratified sampling for domain mixing, benchmark-contamination checks,
  * and per-domain quality-quantile gates.
  *
  * Scale shapes (all single-pass, no cross join, no driver collect):
  *  - q56 packing: one window per `source` partition (the natural unit a
  *    packer shards by); token offsets are exact longs.
  *  - q57 sampling: a pure per-row hash predicate — embarrassingly
  *    parallel, reproducible across runs/cluster sizes by construction.
  *  - q58 contamination: explode → hash → equi-join on 64-shingle-hash,
  *    O(collisions) like the LSH dedup tiers, never all-pairs.
  *  - q59 quantile gate: one window per `source`; exact percentile via
  *    percent_rank (at 100 TB swap in approx_percentile per partition —
  *    same plan shape, noted inline).
  */
object CurationOps extends QueryPack {

  /** Tokens per packed training sequence (tiny on purpose: the sf0.01
    * corpus averages ~53 regex tokens/doc, so 256 yields multi-doc
    * sequences AND boundary-spanning docs — both packer cases exercised).
    */
  val PackBudget = 256

  /** Contamination corpus id offsets for the planted leaks. */
  val FullLeakOffset = 4000000L
  val HalfLeakOffset = 5000000L

  // BPE-ish token count, identical to q31's n_re_tokens definition.
  private def tokCol: Column =
    size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long")
  private val duckTok =
    "CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)"

  private def wordsCol(text: Column): Column =
    filter(split(text, " "), w => length(w) > 0)
  private val duckWords =
    "list_filter(string_split(text, ' '), w -> length(w) > 0)"

  /** 5-word shingles via shifted slices + zip_with (the DedupOps lesson:
    * lambda bodies re-evaluate captured columns per element, slices do
    * not — see DedupOps.shinglesCol).
    */
  private def shingles5(text: Column): Column = {
    val ws = wordsCol(text)
    val len = greatest(size(ws) - 4, lit(0))
    val parts = (1 to 5).map(i => slice(ws, lit(i), len))
    parts.tail.foldLeft(parts.head)((acc, p) =>
      zip_with(acc, p, (x, y) => concat(x, lit(" "), y)))
  }

  // Single logical line per `||` chain: this fragment is interpolated into
  // oracle templates that apply their own stripMargin, which would eat the
  // first bar of a line-leading `||`.
  private val duckShingles5 =
    s"list_transform(generate_series(1, greatest(len($duckWords) - 4, 0)), " +
      s"i -> $duckWords[i] || ' ' || $duckWords[i+1] || ' ' || $duckWords[i+2] || " +
      s"' ' || $duckWords[i+3] || ' ' || $duckWords[i+4])"

  /** Concat-and-chunk packing columns over (doc_id, source, n_tok): one
    * cumulative-sum window per source shard, then pure arithmetic.
    */
  private def packed(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    df.withColumn("end_off", sum(col("n_tok")).over(w))
      .withColumn("begin_off", col("end_off") - col("n_tok"))
      .withColumn("seq_id", expr(s"begin_off DIV $PackBudget"))
      .withColumn("off_in_seq", col("begin_off") % PackBudget)
      .withColumn("spans_boundary",
        expr(s"(end_off - 1) DIV $PackBudget") > col("seq_id"))
      .orderBy("source", "doc_id")
  }

  /** Per-source sampling threshold on the 32-bit hash: rate r keeps
    * hash32 < r·2^32. Rates rotate by the numeric source suffix so the
    * map stays valid at every scale factor without a literal source list.
    */
  private val SampleThresholds = Seq(
    0 -> (1L << 30), // 0.25
    1 -> (1L << 31), // 0.50
    2 -> (3L << 30), // 0.75
    3 -> (1L << 32)) // 1.00 (keep all)

  def queries: Map[String, Query] = Map(

    // ── Sequence packing (concat-and-chunk, GPT-style pretraining) ──────
    // Docs are concatenated per source in doc_id order; sequences of
    // PackBudget tokens are cut from the stream; each doc lands in the
    // sequence where it BEGINS, with its offset and a flag when it spans
    // the cut. One window aggregate per source partition: the exact shape
    // that scales — a 1000-executor packer shards by source/shard-key and
    // runs the same cumulative sum per shard.
    "q56_sequence_packing" -> { (s, dir) =>
      import s.implicits._
      packed(Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", tokCol.as("n_tok")))
    },

    // ── Incremental repacking over the CDC engine's snapshot ────────────
    // The curation tier composed with the engine: repack ONLY the sources
    // dirtied since a changed-since LSN threshold (q49's contract), read
    // through the manifest-pruned incremental scan, over the CURRENT
    // snapshot state. At 100 TB a packer maintains packed sequences
    // incrementally: the dirty-source set comes from the pruned read
    // (file-skipped, tiny), broadcast to gate the full-table scan, and
    // only those shards re-run the cumulative-sum window. The threshold
    // covers the last ~10 doc ids — a fresh tail that dirties 10 of the
    // 20 sources at every SF, so the gate provably halves the repack
    // (asserted in CurationOpsSpec). (Source-level dirtiness from a pure
    // DELETE needs the pre-image retained by the MOR delta metadata; the
    // oracle applies the identical survivor-based rule.)
    "q60_incremental_repack" -> { (s, dir) =>
      import s.implicits._
      val t = CdcOps.replayFor(s, dir).table
      val maxDid = Tables.load(s, dir, "documents").agg(max("doc_id")).head().getLong(0)
      val minLsn = 3L * (maxDid - 10)
      val dirty = t.readPruned(s, t.manifest.get, minLsn = Some(minLsn))
        .select($"source").distinct()
      packed(t.read(s)
        .join(broadcast(dirty), Seq("source"))
        .select($"doc_id", $"source", $"n_tok".cast("long").as("n_tok")))
    },

    // ── Deterministic stratified sampling (domain mixing) ───────────────
    // Keep-decision = pure function of doc_id (XHash) vs a per-source
    // rate: reproducible across runs, cluster sizes and resumed jobs (no
    // rand(), no per-partition state), and the sample of a subset is a
    // subset of the sample — the property training-mix rebuilds rely on.
    "q57_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      // Source class: numeric suffix mod 4, with an EXPLICIT defined
      // default (-1 → head threshold) for sources without one — so the
      // engine and the DuckDB oracle (TRY_CAST + COALESCE) agree on any
      // fixture, instead of one erroring while the other null-falls-back.
      val srcClass = coalesce(
        regexp_extract($"source", "([0-9]+)$", 1).cast("int") % 4, lit(-1))
      val thresh = SampleThresholds.tail.foldLeft(
        lit(SampleThresholds.head._2)) { case (acc, (m, t)) =>
        when(srcClass === m, t).otherwise(acc)
      }
      Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", $"n_chars",
          XHash.hash32($"doc_id".cast("string"), "smp").as("u32"),
          thresh.as("keep_below"))
        .filter($"u32" < $"keep_below")
        .withColumn("target_rate",
          $"keep_below".cast("double") / lit(4294967296.0))
        .drop("keep_below")
        .orderBy("doc_id")
    },

    // ── Benchmark-contamination check (eval-set n-gram overlap) ─────────
    // Eval set = doc_id % 97 == 0; the train side gets two planted leaks
    // per eval doc (full copy at +FullLeakOffset, first-half prefix at
    // +HalfLeakOffset) so both the hit and the partial-hit paths provably
    // fire. Overlap = distinct shared 5-word shingle hashes, computed by
    // explode → equi-join on the hash → count — O(shared shingles), the
    // only join shape that survives a 100 TB train side.
    "q58_contamination" -> { (s, dir) =>
      import s.implicits._
      val base = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val eval_ = base.filter($"doc_id" % 97 === 0)
      val half = array_join(
        slice(wordsCol($"text"), lit(1),
          (size(wordsCol($"text")) / 2).cast("int")), " ")
      val train = base.filter($"doc_id" % 97 =!= 0)
        .unionByName(eval_.select(($"doc_id" + FullLeakOffset).as("doc_id"), $"text"))
        .unionByName(eval_.select(($"doc_id" + HalfLeakOffset).as("doc_id"),
          half.as("text")))
      def hashed(df: org.apache.spark.sql.DataFrame, idAs: String) =
        df.select(col("doc_id").as(idAs), explode(shingles5($"text")).as("sh"))
          .select(col(idAs), XHash.hash32($"sh", "cont").as("h"))
          .distinct()
      val ev = hashed(eval_, "eval_doc")
      val evSizes = ev.groupBy($"eval_doc").agg(count(lit(1)).as("n_eval_ngrams"))
      hashed(train, "train_doc")
        .join(ev, Seq("h"))
        .groupBy($"train_doc", $"eval_doc")
        .agg(count(lit(1)).as("n_overlap"))
        .join(evSizes, Seq("eval_doc"))
        .withColumn("overlap_ratio",
          $"n_overlap".cast("double") / $"n_eval_ngrams")
        .withColumn("is_contaminated", $"overlap_ratio" >= 0.3)
        .select($"train_doc", $"eval_doc", $"n_overlap", $"n_eval_ngrams",
          $"overlap_ratio", $"is_contaminated")
        .orderBy("train_doc", "eval_doc")
    },

    // ── Per-domain quality-quantile gate ────────────────────────────────
    // Keep docs at or above the 25th percentile of token count WITHIN
    // their source — per-domain thresholds, not one global bar (a global
    // bar empties short-form domains). Exact percent_rank here; at 100 TB
    // the same plan swaps in approx_percentile(score, 0.25) per source
    // joined back — one window/one join per partition either way.
    "q59_quality_quantile_gate" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy($"score", $"doc_id")
      Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", tokCol.as("score"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("kept", $"pct_rank" >= 0.25)
        .orderBy("source", "doc_id")
    },

    // ── Histogram quantile gate: q59's 100 TB execution shape ──────────
    // Same contract (drop each source's bottom quartile by score) but the
    // quantile comes from a per-(source, score) HISTOGRAM instead of a
    // per-source sort of every row: integer scores are bounded (n_tok ≤
    // 8192), so the only data-scale operations are one map-side-
    // combinable hash aggregation and one broadcast join of the tiny
    // per-source threshold table back onto the corpus. The windows run
    // over the histogram (≤ sources × 8192 rows — metadata scale). All
    // arithmetic is exact integers (cum × 4 ≥ total, no float quantile),
    // so the result is bit-reproducible across engines and cluster
    // sizes — unlike approx_percentile, this scale path is still under
    // the external hash oracle. Threshold semantics: the smallest score
    // whose cumulative count reaches a quarter of the source; ties keep
    // together (a histogram cannot split equal scores, which is the
    // honest behavior for a data gate).
    "q63_histogram_quantile_gate" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", tokCol.as("score"))
      val hist = docs.groupBy($"source", $"score").agg(count(lit(1)).as("n"))
      val cum = hist
        .withColumn("cum", sum($"n").over(
          Window.partitionBy($"source").orderBy($"score")))
        .withColumn("total", sum($"n").over(Window.partitionBy($"source")))
      val thresholds = cum.filter($"cum" * 4 >= $"total")
        .groupBy($"source").agg(min($"score").as("threshold"))
      docs.join(broadcast(thresholds), Seq("source"))
        .withColumn("kept", $"score" >= $"threshold")
        .select($"doc_id", $"source", $"score", $"threshold", $"kept")
        .orderBy("source", "doc_id")
    },

    // Domain-mixture reweighting: per-source token mass → the sampling
    // weight that flattens the mixture to a uniform target share (the
    // upsample/downsample factor a data loader applies per domain).
    // One map-side-combinable agg over source (bounded cardinality) plus
    // a broadcast 1-row total; both ratios are single IEEE divisions of
    // exact integer sums, so the hash gate is bit-stable.
    "q67_domain_mixture" -> { (s, dir) =>
      import s.implicits._
      val perSource = Tables.load(s, dir, "documents")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(wordsCol($"text")).cast("long")).as("n_tokens"))
      val tot = perSource.agg(
        sum($"n_tokens").as("total"), count(lit(1)).as("k"))
      perSource.crossJoin(broadcast(tot))
        .select($"source", $"n_docs", $"n_tokens",
          ($"n_tokens".cast("double") / $"total").as("token_share"),
          ($"total".cast("double") / ($"k" * $"n_tokens")).as("mix_weight"))
        .orderBy("source")
    }
  )

  def oracles: Map[String, String] = Map(

    "q56_sequence_packing" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, $duckTok AS n_tok FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS end_off
         |  FROM d)
         |SELECT doc_id, source, n_tok, end_off,
         |  end_off - n_tok AS begin_off,
         |  (end_off - n_tok) // $PackBudget AS seq_id,
         |  (end_off - n_tok) % $PackBudget AS off_in_seq,
         |  (end_off - 1) // $PackBudget > (end_off - n_tok) // $PackBudget AS spans_boundary
         |FROM c ORDER BY source, doc_id""".stripMargin,

    // Same survivor-state reconstruction as the q50 oracle, same dirty
    // rule as q49's, then the identical packing arithmetic as q56's.
    "q60_incremental_repack" ->
      s"""WITH ${CdcOps.duckSurvivorState},
         |dirty AS (
         |  SELECT DISTINCT source FROM state
         |  WHERE lsn >= 3 * ((SELECT max(doc_id) FROM documents) - 10)),
         |c AS (
         |  SELECT doc_id, source, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS end_off
         |  FROM state WHERE source IN (SELECT source FROM dirty))
         |SELECT doc_id, source, n_tok, end_off,
         |  end_off - n_tok AS begin_off,
         |  (end_off - n_tok) // $PackBudget AS seq_id,
         |  (end_off - n_tok) % $PackBudget AS off_in_seq,
         |  (end_off - 1) // $PackBudget > (end_off - n_tok) // $PackBudget AS spans_boundary
         |FROM c ORDER BY source, doc_id""".stripMargin,

    "q57_stratified_sample" -> {
      val u32 = XHash.duckHash32("CAST(doc_id AS VARCHAR)", "smp")
      val thresh = SampleThresholds.tail.foldLeft(
        SampleThresholds.head._2.toString) { case (acc, (m, t)) =>
        s"(CASE WHEN COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$$', 1) AS INTEGER) % 4, -1) = $m THEN $t ELSE $acc END)"
      }
      s"""SELECT doc_id, source, n_chars, u32,
         |  CAST(keep_below AS DOUBLE) / 4294967296.0 AS target_rate
         |FROM (
         |  SELECT doc_id, source, n_chars, $u32 AS u32, $thresh AS keep_below
         |  FROM documents)
         |WHERE u32 < keep_below
         |ORDER BY doc_id""".stripMargin
    },

    "q58_contamination" -> {
      val halfText =
        s"array_to_string(list_slice($duckWords, 1, len($duckWords) // 2), ' ')"
      s"""WITH ev_docs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         |train_docs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
         |  UNION ALL
         |  SELECT doc_id + $FullLeakOffset AS doc_id, text FROM ev_docs
         |  UNION ALL
         |  SELECT doc_id + $HalfLeakOffset AS doc_id, $halfText AS text FROM ev_docs),
         |ev AS (
         |  SELECT DISTINCT doc_id AS eval_doc, ${XHash.duckHash32("sh", "cont")} AS h
         |  FROM (SELECT doc_id, unnest($duckShingles5) AS sh FROM ev_docs)),
         |ev_sizes AS (
         |  SELECT eval_doc, count(*) AS n_eval_ngrams FROM ev GROUP BY eval_doc),
         |tr AS (
         |  SELECT DISTINCT doc_id AS train_doc, ${XHash.duckHash32("sh", "cont")} AS h
         |  FROM (SELECT doc_id, unnest($duckShingles5) AS sh FROM train_docs)),
         |ov AS (
         |  SELECT train_doc, eval_doc, count(*) AS n_overlap
         |  FROM tr JOIN ev USING (h) GROUP BY train_doc, eval_doc)
         |SELECT train_doc, eval_doc, n_overlap, n_eval_ngrams,
         |  CAST(n_overlap AS DOUBLE) / n_eval_ngrams AS overlap_ratio,
         |  CAST(n_overlap AS DOUBLE) / n_eval_ngrams >= 0.3 AS is_contaminated
         |FROM ov JOIN ev_sizes USING (eval_doc)
         |ORDER BY train_doc, eval_doc""".stripMargin
    },

    "q59_quality_quantile_gate" ->
      s"""SELECT doc_id, source, score,
         |  percent_rank() OVER (PARTITION BY source ORDER BY score, doc_id) AS pct_rank,
         |  percent_rank() OVER (PARTITION BY source ORDER BY score, doc_id) >= 0.25 AS kept
         |FROM (SELECT doc_id, source, $duckTok AS score FROM documents)
         |ORDER BY source, doc_id""".stripMargin,

    "q63_histogram_quantile_gate" ->
      s"""WITH d AS (SELECT doc_id, source, $duckTok AS score FROM documents),
         |h AS (SELECT source, score, count(*) AS n FROM d GROUP BY 1, 2),
         |c AS (SELECT source, score,
         |        sum(n) OVER (PARTITION BY source ORDER BY score) AS cum,
         |        sum(n) OVER (PARTITION BY source) AS total
         |      FROM h),
         |t AS (SELECT source, min(score) AS threshold FROM c
         |      WHERE cum * 4 >= total GROUP BY 1)
         |SELECT d.doc_id, d.source, d.score, t.threshold,
         |  d.score >= t.threshold AS kept
         |FROM d JOIN t USING (source) ORDER BY source, doc_id""".stripMargin,

    "q67_domain_mixture" ->
      s"""WITH per_source AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(len($duckWords)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         |    count(*) AS k
         |  FROM per_source)
         |SELECT source, n_docs, n_tokens,
         |  CAST(n_tokens AS DOUBLE) / total AS token_share,
         |  CAST(total AS DOUBLE) / (k * n_tokens) AS mix_weight
         |FROM per_source, tot ORDER BY source""".stripMargin
  )
}
