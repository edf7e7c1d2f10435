package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.XHash
import graft.util.{Fixtures, Tables}

/** Training-data deduplication family over the `documents` table: exact
  * (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
  * SimHash fingerprints, and n-gram Jaccard verification of LSH candidate
  * pairs. All hashes are the cross-engine [[XHash]] so every signature,
  * bucket and pair is DuckDB-verifiable.
  *
  * The corpus injects deterministic duplicates (the raw table has unique
  * texts): every doc_id % 11 == 0 gets an exact copy at id+2000000, every
  * doc_id % 7 == 0 with ≥4 words gets a near-copy (last word dropped) at
  * id+1000000 — so each dedup tier provably fires.
  *
  * Scale shape: everything is explode → hash → groupBy (map-side combined)
  * or equi-join on band keys — no cross join anywhere; candidate
  * verification cost is O(collisions), the standard LSH contract.
  */
object DedupOps extends QueryPack {

  private val K = 8          // minhash functions
  private val Bands = 4      // bands × rows-per-band = K
  private val R = K / Bands

  // ── shared corpus (Spark) ─────────────────────────────────────────────
  private def wordsCol(text: Column): Column =
    filter(split(text, " "), w => length(w) > 0)

  private def corpus(s: SparkSession, dir: String, withExact: Boolean,
      withNear: Boolean): DataFrame = {
    import s.implicits._
    val base = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    var out = base
    if (withExact)
      out = out.unionByName(
        base.filter($"doc_id" % 11 === 0)
          .select(($"doc_id" + 2000000L).as("doc_id"), $"text"))
    if (withNear)
      out = out.unionByName(
        base.filter($"doc_id" % 7 === 0 && size(wordsCol($"text")) >= 4)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            array_join(slice(wordsCol($"text"), lit(1), size(wordsCol($"text")) - 1), " ")
              .as("text")))
    out
  }

  // ── shared corpus (DuckDB SQL) ────────────────────────────────────────
  private val duckWords =
    "list_filter(string_split(text, ' '), w -> length(w) > 0)"

  private def duckCorpus(withExact: Boolean, withNear: Boolean): String = {
    val exact =
      """UNION ALL
        |SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
        |""".stripMargin
    val near =
      s"""UNION ALL
         |SELECT doc_id + 1000000 AS doc_id,
         |  array_to_string(list_slice($duckWords, 1, len($duckWords) - 1), ' ') AS text
         |FROM documents WHERE doc_id % 7 = 0 AND len($duckWords) >= 4
         |""".stripMargin
    "SELECT doc_id, text FROM documents\n" +
      (if (withExact) exact else "") + (if (withNear) near else "")
  }

  /** 3-word shingles (Spark) via shifted slices + zip_with. NOT
    * `transform(sequence(...), i => element_at(ws, i)...)`: a lambda body
    * referencing `ws` re-evaluates the whole split-and-filter for every
    * element (higher-order functions only pre-materialize their direct
    * arguments), which made LSH O(words²) per doc — 34 s → 3 s at sf0.1.
    * Slices are plain per-row expressions, and zip_with iterates
    * materialized arrays.
    */
  private def shinglesCol(text: Column): Column = {
    val ws = wordsCol(text)
    val len = greatest(size(ws) - 2, lit(0))
    val a = slice(ws, lit(1), len)
    val b = slice(ws, lit(2), len)
    val c = slice(ws, lit(3), len)
    zip_with(zip_with(a, b, (x, y) => concat(x, lit(" "), y)),
      c, (xy, z) => concat(xy, lit(" "), z))
  }

  private val duckShingles =
    s"""list_transform(
       |      generate_series(1, greatest(len($duckWords) - 2, 0)),
       |      i -> $duckWords[i] || ' ' || $duckWords[i+1] || ' ' || $duckWords[i+2])""".stripMargin

  /** Affine MinHash family: hash each shingle ONCE (md5) to h0, then
    * h_j = (a_j * (h0 % p) + b_j) % p — 8× fewer md5 evaluations than
    * salting the digest per hash function, identical arithmetic in DuckDB.
    */
  private val P = 2147483647L // 2^31 - 1; a_j*(h0%p) < 2^46, overflow-safe
  private val As = Seq(37L, 91L, 143L, 271L, 359L, 467L, 571L, 683L)
  private def Bs(j: Int): Long = j * 7919L + 13L

  /** (doc_id, band, band_key) LSH band signatures (Spark). */
  private def bandSignatures(s: SparkSession, dir: String): DataFrame =
    bandSignaturesOf(s, corpus(s, dir, withExact = true, withNear = true))

  /** The MinHash/banding pipeline over an arbitrary (doc_id, text) frame —
    * factored out so the incremental tier (q71) can signature-compute ONLY
    * a dirty subset while the full build signs the whole corpus.
    */
  private def bandSignaturesOf(s: SparkSession, corpusDf: DataFrame): DataFrame = {
    import s.implicits._
    val shingleRows = corpusDf
      .select($"doc_id", explode(shinglesCol($"text")).as("sh"))
      .select($"doc_id", (XHash.hash32($"sh", "mh") % P).as("h0"))
    val minhashes = (0 until K).map(j =>
      min((lit(As(j)) * $"h0" + Bs(j)) % P).as(s"mh$j"))
    val sig = shingleRows.groupBy($"doc_id").agg(minhashes.head, minhashes.tail: _*)
    // one explode, not a union of per-band selects (which would re-evaluate
    // the whole hash pipeline once per band)
    val bandStructs = array((0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until R).map(r => col(s"mh${b * R + r}")): _*).as("band_key"))
    }: _*)
    sig.select($"doc_id", explode(bandStructs).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.band_key".as("band_key"))
  }

  private val duckBandSignatures = {
    val mins = (0 until K).map(j =>
      s"min((${As(j)} * h0 + ${Bs(j)}) % $P) AS mh$j").mkString(",\n    ")
    val bandRows = (0 until Bands).map { b =>
      val key = (0 until R).map(r => s"CAST(mh${b * R + r} AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""corpus AS (${duckCorpus(withExact = true, withNear = true)}),
       |shingle_rows AS (
       |  SELECT doc_id, ${XHash.duckHash32("sh", "mh")} % $P AS h0
       |  FROM (SELECT doc_id, unnest($duckShingles) AS sh FROM corpus)),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM shingle_rows GROUP BY 1),
       |bands AS (
       |  $bandRows)""".stripMargin
  }

  /** Bench hook: [[Fixtures.reset]]. */
  private[graft] def clearCache(): Unit = Fixtures.reset()

  /** q52's verified near-dup pairs, persisted + memoized like
    * [[candidatePairs]]: the candidate self-join would otherwise
    * re-evaluate the quantize→sign→bucket pipeline on BOTH sides every
    * run (2× the corpus scan at 100 TB). The signature frame is persisted
    * only while building, the verified pair set is what stays cached.
    */
  /** q52's verified near-dup pair PLAN, un-cached (exposed so plan tests
    * can inspect the real pipeline — once memoized, the executed plan
    * only shows an InMemoryTableScan).
    */
  private[analytics] def embNearPairsPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.ArrayDot.dotLong
    val base = Tables.load(s, dir, "embeddings")
      .select($"vec_id", AnnOps.qe($"embedding").as("qe"))
    val dups = base.filter($"vec_id" % 40 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"qe", (x, i) =>
          x + when(i === ($"vec_id" % 64).cast("int"), 1L).otherwise(0L)).as("qe"))
    val corpus = base.unionByName(dups)
      .withColumn("norm2", dotLong($"qe", $"qe"))
    val sigs = corpus.select($"vec_id",
        explode(array((0 until AnnOps.NTables).map(t =>
          struct(lit(t).as("t"), AnnOps.bucketCol($"qe", t).as("bucket"))): _*)).as("tb"))
      .select($"vec_id", $"tb.t".as("t"), $"tb.bucket".as("bucket"))
    val cand = sigs.as("a")
      .join(sigs.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    val feat = corpus.select($"vec_id", $"qe", $"norm2")
    cand
      .join(feat.select($"vec_id".as("a_id"), $"qe".as("a_qe"), $"norm2".as("a_n2")),
        Seq("a_id"))
      .join(feat.select($"vec_id".as("b_id"), $"qe".as("b_qe"), $"norm2".as("b_n2")),
        Seq("b_id"))
      .withColumn("dot", dotLong($"a_qe", $"b_qe"))
      .filter($"dot" > 0 &&
        $"dot".cast("decimal(38,0)") * $"dot" * lit(1000000L) >=
          lit(990025L).cast("decimal(38,0)") * $"a_n2" * $"b_n2")
      .withColumn("score", $"dot".cast("double") /
        sqrt($"a_n2".cast("double")) / sqrt($"b_n2".cast("double")))
      .select($"a_id", $"b_id", $"dot", $"score")
  }

  /** Persisted + memoized wrapper over [[embNearPairsPlan]], like
    * [[candidatePairs]]: without it every run re-evaluates the
    * quantize→sign→bucket pipeline on BOTH self-join sides — 2× the
    * corpus scan at 100 TB. (The one materialization still walks the
    * corpus subtree per consumer; at scale the corpus itself would be a
    * materialized table, which is the CDC engine's job.)
    */
  private def embNearPairs(s: SparkSession, dir: String): DataFrame =
    Fixtures(s, "emb-near-pairs", dir, "embeddings") { f =>
      val near = f.persist(embNearPairsPlan(s, dir))
      near.count()
      near
    }

  /** q55's verified simhash near-dup pair PLAN, un-cached. */
  private[analytics] def simhashNearPairsPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wordRows = corpus(s, dir, withExact = false, withNear = true)
      .select($"doc_id", explode(wordsCol($"text")).as("w"))
      .select($"doc_id",
        XHash.hash32($"w", "sh64a").as("h1"), XHash.hash32($"w", "sh64b").as("h2"))
    val bitSums = (0 until 60).map { i =>
      val src = if (i < 30) $"h1" else $"h2"
      sum(when(shiftright(src, i % 30) % 2 === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val sim = (0 until 60).map(i =>
      when(col(s"b$i") >= 0, 1L << i).otherwise(0L)).reduce(_ + _)
    val sims = wordRows.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id", sim.as("sim"))
    val bands = sims.select($"doc_id", $"sim",
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("k"),
          shiftright($"sim", 15 * k).bitwiseAND(lit(0x7FFFL)).as("bv"))): _*)).as("b"))
      .select($"doc_id", $"sim", $"b.k".as("k"), $"b.bv".as("bv"))
    val cand = bands.select($"doc_id".as("d1"), $"sim".as("s1"), $"k", $"bv")
      .join(bands.select($"doc_id".as("d2"), $"sim".as("s2"), $"k", $"bv"),
        Seq("k", "bv"))
      .filter($"d1" < $"d2")
      .select($"d1", $"d2", $"s1", $"s2").distinct()
    cand
      .withColumn("hamming", bit_count($"s1".bitwiseXOR($"s2")).cast("int"))
      .filter($"hamming" <= 3)
      .select($"d1", $"d2", $"hamming")
  }

  /** Persisted + memoized wrapper over [[simhashNearPairsPlan]]. */
  private def simhashNearPairs(s: SparkSession, dir: String): DataFrame =
    Fixtures(s, "simhash-near-pairs", dir, "documents") { f =>
      val near = f.persist(simhashNearPairsPlan(s, dir))
      near.count()
      near
    }

  /** LSH candidate pairs, one fixture per input snapshot (q35 and q37
    * share them) as a PERSISTED DataFrame — never collected to the driver:
    * at corpus scale the collision set is millions of pairs, so the pair
    * set must stay distributed end-to-end (the band-bucket equi-join is
    * the whole point of LSH).
    */
  private def candidatePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fixtures(s, "lsh-pairs", dir, "documents") { f =>
      // persist the signatures while building: the pipeline feeds 2 join
      // sides — without it Catalyst re-evaluates the hash pipeline twice
      val b = f.persist(bandSignatures(s, dir))
      val a1 = b.select($"doc_id".as("d1"), $"band", $"band_key")
      val a2 = b.select($"doc_id".as("d2"), $"band", $"band_key")
      val pairs = f.persist(a1.join(a2, Seq("band", "band_key")).filter($"d1" < $"d2")
        .select($"d1", $"d2").distinct())
      pairs.count() // materialize now so the signature cache can be freed
      b.unpersist()
      pairs
    }
  }

  private val duckCandidatePairs =
    s"""WITH $duckBandSignatures,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  def queries: Map[String, Query] = Map(
    "q30_dedup_exact" -> { (s, dir) =>
      import s.implicits._
      // exact dedup: hash-groupBy on md5(text), deterministic canonical
      // pick (min doc_id), report only duplicated groups
      val c = corpus(s, dir, withExact = true, withNear = false)
        .withColumn("text_key", md5($"text"))
      val w = Window.partitionBy($"text_key").orderBy($"doc_id")
      c.withColumn("rn", row_number().over(w))
        .withColumn("n_copies", count(lit(1)).over(Window.partitionBy($"text_key")))
        .filter($"n_copies" > 1)
        .select($"doc_id", $"text_key", $"rn", ($"rn" === 1).as("is_canonical"))
        .orderBy($"text_key", $"doc_id")
    },

    "q35_minhash_lsh" -> { (s, dir) =>
      candidatePairs(s, dir).orderBy("d1", "d2")
    },

    "q36_simhash" -> { (s, dir) =>
      import s.implicits._
      // 16-bit simhash over word hashes (with multiplicity)
      val wordRows = corpus(s, dir, withExact = false, withNear = true)
        .select($"doc_id", explode(wordsCol($"text")).as("w"))
        .select($"doc_id", XHash.hash32($"w", "sh").as("h"))
      val bitSums = (0 until 16).map(i =>
        sum(when(shiftright($"h", i) % 2 === 1, 1).otherwise(-1)).as(s"b$i"))
      val simhash = (0 until 16).map(i =>
        when(col(s"b$i") >= 0, 1L << i).otherwise(0L)).reduce(_ + _)
      wordRows.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select($"doc_id", simhash.as("simhash"))
        .orderBy("doc_id")
    },

    "q37_ngram_jaccard" -> { (s, dir) =>
      import s.implicits._
      // verify LSH candidates with exact 3-gram Jaccard
      val sets = corpus(s, dir, withExact = true, withNear = true)
        .select($"doc_id", array_distinct(shinglesCol($"text")).as("sset"))
      val cand = candidatePairs(s, dir)
      cand
        .join(sets.select($"doc_id".as("d1"), $"sset".as("s1")), Seq("d1"))
        .join(sets.select($"doc_id".as("d2"), $"sset".as("s2")), Seq("d2"))
        .select($"d1", $"d2",
          size(array_intersect($"s1", $"s2")).as("n_inter"),
          (size($"s1") + size($"s2") - size(array_intersect($"s1", $"s2"))).as("n_union"))
        .withColumn("jaccard", $"n_inter".cast("double") / $"n_union")
        .withColumn("is_near_dup", $"jaccard" >= 0.6)
        .orderBy("d1", "d2")
    },

    // Embedding-cosine near-dup — the vector-space tier of the dedup
    // family (MinHash/SimHash catch lexical near-dups; this catches
    // semantic ones). The raw embeddings table has no near-dup pairs
    // (max pairwise cosine ≈ 0.51), so the corpus is augmented
    // deterministically like the text tiers above: every vec_id % 40 == 0
    // vector gets a copy at id+1000000 with component (vec_id % 64)
    // bumped by +1 quantization step → cosine ≈ 0.9999998, far above the
    // τ=0.995 threshold, while random pairs stay far below.
    //
    // Scale shape: candidates come from the SAME multi-table hyperplane
    // LSH as q39 (equi-join on (table, bucket), never all-pairs); the
    // near-dup test is EXACT integer arithmetic — cosine ≥ τ ⟺
    // (1000·dot)² ≥ 995²·n1·n2 with dot > 0 — evaluated in decimal(38,0)
    // (Spark) / HUGEINT (DuckDB), so the threshold can never flip on a
    // float rounding boundary. Keep-lowest-id policy: each dropped vector
    // reports its smallest surviving near-dup partner.
    "q52_embedding_neardup" -> { (s, dir) =>
      import s.implicits._
      embNearPairs(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy($"b_id").orderBy($"a_id")))
        .filter($"rn" === 1)
        .select($"b_id".as("dropped_id"), $"a_id".as("kept_id"), $"dot", $"score")
        .orderBy("dropped_id")
    },

    // SimHash near-dup DEDUP (q36 only computes the fingerprints): a
    // 60-bit simhash (two salted 32-bit word hashes; bit 63 avoided so
    // sign semantics can't diverge across engines), banded 4×15 bits —
    // candidates share ANY band, which by pigeonhole catches EVERY pair
    // within hamming ≤ 3 (3 flips cannot touch all 4 bands) — then exact
    // hamming verification via bit_count(xor). 16 bits (q36's parity
    // width) is too coarse to dedup with: random pairs collide at
    // hamming 0 constantly; at 60 bits P(random ≤ 3) ≈ 3·10⁻¹⁴.
    // Same scale shape as every dedup tier: explode → hash → groupBy
    // (map-side combined) → band equi-join, O(collisions) verify.
    "q55_simhash_neardup" -> { (s, dir) =>
      import s.implicits._
      simhashNearPairs(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy($"d2").orderBy($"d1")))
        .filter($"rn" === 1)
        .select($"d2".as("dropped_id"), $"d1".as("kept_id"), $"hamming")
        .orderBy("dropped_id")
    },

    // Duplicate-CLUSTER resolution: q35/q37 emit verified near-dup PAIRS,
    // but survivor election needs the transitive closure — a~b and b~c
    // put {a,b,c} in ONE group with one canonical doc, which no per-pair
    // rule can decide (keep-lowest per pair can drop every member of a
    // chain). Connected components over the jaccard-verified edge set,
    // min-label + pointer-doubling (O(log diameter) rounds of
    // key-partitioned equi-joins — see ConnectedComponents scaladoc for
    // the 10^10-edge shape). Oracle: DuckDB recursive CTE computing the
    // same min-reachable-id fixpoint.
    "q69_dedup_clusters" -> { (s, dir) =>
      import s.implicits._
      val sets = corpus(s, dir, withExact = true, withNear = true)
        .select($"doc_id", array_distinct(shinglesCol($"text")).as("sset"))
      val edges = candidatePairs(s, dir)
        .join(sets.select($"doc_id".as("d1"), $"sset".as("s1")), Seq("d1"))
        .join(sets.select($"doc_id".as("d2"), $"sset".as("s2")), Seq("d2"))
        .filter(size(array_intersect($"s1", $"s2")) * 10 >=
          (size($"s1") + size($"s2") - size(array_intersect($"s1", $"s2"))) * 6)
        .select($"d1", $"d2")
      val comps = graft.operators.ConnectedComponents.run(edges, "d1", "d2")
      comps
        .join(comps.groupBy($"component").agg(count(lit(1)).as("cluster_size")),
          "component")
        .select($"id".as("doc_id"), $"component", $"cluster_size",
          ($"id" === $"component").as("is_canonical"))
        .orderBy("component", "doc_id")
    },

    // ── Incremental near-dup: dedup only the CDC-dirty tail ─────────────
    // The dedup tier composed with the engine (the q60 pattern): when the
    // changelog touches a handful of docs, near-dup maintenance must NOT
    // re-pair the whole corpus — the dirty set comes from the
    // manifest-pruned changed-since read (file-skipped, tiny), is
    // broadcast to gate the corpus scan BEFORE shingling, and only those
    // docs pay signature cost on the query side. The index side is the
    // full band-signature table — at 100 TB that is a standing table the
    // same CDC pipe maintains (recomputed here only because the fixture
    // is ephemeral); candidates are the dirty-sig ⋈ index equi-join on
    // (band, band_key) — O(dirty × collisions), never all-pairs — then
    // the exact-integer jaccard verify. A dirty doc reports every
    // verified near-dup partner already in the corpus.
    "q71_incremental_neardup" -> { (s, dir) =>
      import s.implicits._
      val t = CdcOps.replayFor(s, dir).table
      val maxDid = Tables.load(s, dir, "documents").agg(max("doc_id")).head().getLong(0)
      val minLsn = 3L * (maxDid - 10)
      val dirty = t.readPruned(s, t.manifest.get, minLsn = Some(minLsn))
        .select($"doc_id".cast("long").as("doc_id"))
      val full = corpus(s, dir, withExact = true, withNear = true)
      val dirtySigs =
        bandSignaturesOf(s, full.join(broadcast(dirty), Seq("doc_id")))
      val cand = dirtySigs.select($"doc_id".as("dq"), $"band", $"band_key")
        .join(bandSignatures(s, dir).select($"doc_id".as("dc"), $"band", $"band_key"),
          Seq("band", "band_key"))
        .filter($"dq" =!= $"dc")
        .select($"dq", $"dc").distinct()
      val sets = full.select($"doc_id", array_distinct(shinglesCol($"text")).as("sset"))
      cand
        .join(sets.select($"doc_id".as("dq"), $"sset".as("s1")), Seq("dq"))
        .join(sets.select($"doc_id".as("dc"), $"sset".as("s2")), Seq("dc"))
        .select($"dq", $"dc",
          size(array_intersect($"s1", $"s2")).as("n_inter"),
          (size($"s1") + size($"s2") - size(array_intersect($"s1", $"s2"))).as("n_union"))
        .filter($"n_inter" * 10 >= $"n_union" * 6)
        .select($"dq".as("doc_id"), $"dc".as("dup_id"), $"n_inter", $"n_union")
        .orderBy("doc_id", "dup_id")
    }
  )

  def oracles: Map[String, String] = Map(
    "q30_dedup_exact" ->
      s"""WITH corpus AS (${duckCorpus(withExact = true, withNear = false)}),
         |keyed AS (
         |  SELECT doc_id, md5(text) AS text_key,
         |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
         |    count(*) OVER (PARTITION BY md5(text)) AS n_copies
         |  FROM corpus)
         |SELECT doc_id, text_key, rn, rn = 1 AS is_canonical
         |FROM keyed WHERE n_copies > 1 ORDER BY text_key, doc_id""".stripMargin,

    "q35_minhash_lsh" ->
      s"""$duckCandidatePairs
         |SELECT d1, d2 FROM cand ORDER BY d1, d2""".stripMargin,

    "q36_simhash" -> {
      val bitSums = (0 until 16).map(i =>
        s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(",\n    ")
      val sim = (0 until 16).map(i =>
        s"(CASE WHEN b$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      s"""WITH corpus AS (${duckCorpus(withExact = false, withNear = true)}),
         |word_rows AS (
         |  SELECT doc_id, ${XHash.duckHash32("w", "sh")} AS h
         |  FROM (SELECT doc_id, unnest($duckWords) AS w FROM corpus)),
         |bits AS (
         |  SELECT doc_id,
         |    $bitSums
         |  FROM word_rows GROUP BY 1)
         |SELECT doc_id, $sim AS simhash FROM bits ORDER BY doc_id""".stripMargin
    },

    "q37_ngram_jaccard" ->
      s"""$duckCandidatePairs,
         |sets AS (
         |  SELECT doc_id, list_distinct($duckShingles) AS sset FROM corpus),
         |joined AS (
         |  SELECT d1, d2,
         |    len(list_filter(a.sset, x -> list_contains(b.sset, x))) AS n_inter,
         |    len(a.sset) + len(b.sset)
         |      - len(list_filter(a.sset, x -> list_contains(b.sset, x))) AS n_union
         |  FROM cand JOIN sets a ON d1 = a.doc_id JOIN sets b ON d2 = b.doc_id)
         |SELECT d1, d2, n_inter, n_union,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard,
         |  CAST(n_inter AS DOUBLE) / n_union >= 0.6 AS is_near_dup
         |FROM joined ORDER BY d1, d2""".stripMargin,

    // Same LSH candidate generation as the Spark side (oracle == query by
    // construction even if a bucket ever split a planted pair), and the
    // same exact-integer threshold in HUGEINT.
    "q52_embedding_neardup" -> {
      val sigSelects = (0 until AnnOps.NTables).map(t =>
        s"SELECT vec_id, $t AS t, ${AnnOps.duckBucket(t)} AS bucket FROM qn")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH base AS (SELECT vec_id, ${AnnOps.duckQe} AS qe FROM embeddings),
         |dup AS (
         |  SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(generate_series(1, 64),
         |      i -> qe[i] + CASE WHEN i - 1 = j THEN 1 ELSE 0 END) AS qe
         |  FROM (SELECT vec_id, vec_id % 64 AS j, qe FROM base WHERE vec_id % 40 = 0)),
         |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM dup),
         |qn AS (SELECT vec_id, qe,
         |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS norm2 FROM corpus),
         |sigs AS (
         |  $sigSelects),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM sigs a JOIN sigs b
         |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |near AS (
         |  SELECT a_id, b_id,
         |    CAST(list_sum(list_transform(generate_series(1, 64),
         |      i -> x.qe[i] * y.qe[i])) AS BIGINT) AS dot,
         |    x.norm2 AS a_n2, y.norm2 AS b_n2
         |  FROM cand JOIN qn x ON a_id = x.vec_id JOIN qn y ON b_id = y.vec_id),
         |kept AS (
         |  SELECT b_id, a_id, dot,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(a_n2 AS DOUBLE))
         |      / sqrt(CAST(b_n2 AS DOUBLE)) AS score,
         |    row_number() OVER (PARTITION BY b_id ORDER BY a_id) AS rn
         |  FROM near
         |  WHERE dot > 0
         |    AND CAST(dot AS HUGEINT) * dot * 1000000 >=
         |        CAST(990025 AS HUGEINT) * a_n2 * b_n2)
         |SELECT b_id AS dropped_id, a_id AS kept_id, dot, score
         |FROM kept WHERE rn = 1 ORDER BY dropped_id""".stripMargin
    },

    "q55_simhash_neardup" -> {
      val bitSums = (0 until 60).map { i =>
        val src = if (i < 30) "h1" else "h2"
        s"sum(CASE WHEN ($src >> ${i % 30}) % 2 = 1 THEN 1 ELSE -1 END) AS b$i"
      }.mkString(",\n    ")
      val sim = (0 until 60).map(i =>
        s"(CASE WHEN b$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      val bandRows = (0 until 4).map(k =>
        s"SELECT doc_id, sim, $k AS k, (sim >> ${15 * k}) & 32767 AS bv FROM sims")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH corpus AS (${duckCorpus(withExact = false, withNear = true)}),
         |word_rows AS (
         |  SELECT doc_id, ${XHash.duckHash32("w", "sh64a")} AS h1,
         |    ${XHash.duckHash32("w", "sh64b")} AS h2
         |  FROM (SELECT doc_id, unnest($duckWords) AS w FROM corpus)),
         |bits AS (
         |  SELECT doc_id,
         |    $bitSums
         |  FROM word_rows GROUP BY 1),
         |sims AS (SELECT doc_id, CAST($sim AS BIGINT) AS sim FROM bits),
         |bands AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.sim AS s1, b.sim AS s2
         |  FROM bands a JOIN bands b
         |    ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |near AS (
         |  SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
         |  FROM cand WHERE bit_count(xor(s1, s2)) <= 3)
         |SELECT d2 AS dropped_id, d1 AS kept_id, hamming FROM (
         |  SELECT *, row_number() OVER (PARTITION BY d2 ORDER BY d1) AS rn FROM near)
         |WHERE rn = 1 ORDER BY dropped_id""".stripMargin
    },

    // Same verified edge set as q37 (exact-integer 10·inter >= 6·union —
    // the threshold can never flip on a float boundary), then the
    // min-reachable-id fixpoint as a recursive CTE: UNION-dedup makes the
    // walk terminate, min(lbl) per doc is the component id.
    "q69_dedup_clusters" ->
      s"""${duckCandidatePairs.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sets AS (
         |  SELECT doc_id, list_distinct($duckShingles) AS sset FROM corpus),
         |edges AS (
         |  SELECT d1, d2 FROM (
         |    SELECT d1, d2,
         |      len(list_filter(a.sset, x -> list_contains(b.sset, x))) AS n_inter,
         |      len(a.sset) + len(b.sset)
         |        - len(list_filter(a.sset, x -> list_contains(b.sset, x))) AS n_union
         |    FROM cand JOIN sets a ON d1 = a.doc_id JOIN sets b ON d2 = b.doc_id)
         |  WHERE n_inter * 10 >= n_union * 6),
         |sym AS (
         |  SELECT d1 AS src, d2 AS dst FROM edges
         |  UNION ALL SELECT d2, d1 FROM edges),
         |walk(doc, lbl) AS (
         |  SELECT DISTINCT src, src FROM sym
         |  UNION
         |  SELECT s.src, w.lbl FROM sym s JOIN walk w ON w.doc = s.dst),
         |comp AS (SELECT doc, min(lbl) AS component FROM walk GROUP BY doc)
         |SELECT doc AS doc_id, component,
         |  count(*) OVER (PARTITION BY component) AS cluster_size,
         |  doc = component AS is_canonical
         |FROM comp ORDER BY component, doc_id""".stripMargin,

    // Dirty set re-derived from the changelog rules (CdcOps survivor
    // state, same threshold arithmetic as the engine's changed-since
    // read), then the identical band equi-join restricted to dirty docs
    // on the query side.
    "q71_incremental_neardup" ->
      s"""WITH ${CdcOps.duckSurvivorState},
         |$duckBandSignatures,
         |dirty AS (
         |  SELECT did AS doc_id FROM state
         |  WHERE lsn >= 3 * ((SELECT max(doc_id) FROM documents) - 10)),
         |dsig AS (
         |  SELECT b.* FROM bands b JOIN dirty d ON b.doc_id = d.doc_id),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS dq, b.doc_id AS dc
         |  FROM dsig a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key
         |   AND a.doc_id <> b.doc_id),
         |sets AS (
         |  SELECT doc_id, list_distinct($duckShingles) AS sset FROM corpus),
         |j AS (
         |  SELECT dq, dc,
         |    len(list_filter(a.sset, x -> list_contains(b.sset, x))) AS n_inter,
         |    len(a.sset) + len(b.sset)
         |      - len(list_filter(a.sset, x -> list_contains(b.sset, x))) AS n_union
         |  FROM cand JOIN sets a ON dq = a.doc_id JOIN sets b ON dc = b.doc_id)
         |SELECT dq AS doc_id, dc AS dup_id, n_inter, n_union
         |FROM j WHERE n_inter * 10 >= n_union * 6
         |ORDER BY doc_id, dup_id""".stripMargin
  )
}
