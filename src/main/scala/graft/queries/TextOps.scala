package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text operators over the `documents` table: deduplication
  * (exact, canonical-fingerprint, n-gram Jaccard, MinHash+LSH, SimHash),
  * token statistics, quality scoring and language-ID.
  *
  * Determinism contract with the DuckDB oracles: every hash is md5 (identical
  * hex on both engines); similarity scores are ratios of exact BIGINT counts
  * (single IEEE double division — bit-identical on both sides); every output
  * ends in a total ORDER BY.
  *
  * Scale notes (100 TB):
  *  - candidate generation never materializes the O(n²) cross join: n-gram
  *    dedup goes through a shingle inverted index, MinHash through LSH band
  *    buckets, SimHash through byte-band buckets — all shuffle on a
  *    high-cardinality key and meet only plausible pairs;
  *  - everything is built from codegen'd `functions._`/higher-order
  *    expressions, no Scala UDFs on the hot path.
  */
object TextOps {

  // r12 optimization: the gate corpus is a single parquet row group, so
  // a bare scan is ONE task — and nearly every TextOps query rides a
  // CPU-heavy per-row expression (regexp tokenizer, 5-char shingler)
  // directly on that scan, serializing it on a 32-core box. Repartition
  // the slim raw rows first: the added exchange moves <1 MB at gate
  // scale, and the expression then runs at full parallelism (guide §2.5
  // input skew — fix at the source). On a real multi-file corpus the
  // repartition still costs one pass of the raw text but keeps the
  // expression parallelism independent of the input file layout.
  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  /** Distinct 5-char shingles (character n-grams spanning token boundaries). */
  private[graft] val shingleExpr: Column = expr(
    "array_distinct(transform(sequence(1, greatest(length(text) - 4, 1)), " +
      "i -> substring(text, i, 5)))")

  /** Lower-cased alnum word tokens. */
  private[graft] val tokensExpr: Column =
    expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")

  // -- exact dedup: hash-groupBy, survivor = min id ---------------------------
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_hash")

  // -- canonical fingerprint dedup: md5 of sorted distinct token set ----------
  /** Shared by d_dedup_fingerprint and the fingerprint branch of
    * d_dedup_combined — one spelling, so the two cannot drift apart.
    */
  private val fingerprintExpr: Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokensExpr))))

  private def dedupFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("fingerprint", fingerprintExpr)
      .groupBy("fingerprint")
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_docs"))
      .orderBy("fingerprint")

  /** Document-frequency cap for the shingle inverted index: shingles present
    * in more documents are stop-shingles — a single one would otherwise join
    * quadratically (a df-10⁶ bucket at 100 TB ⇒ 10¹² candidate rows).
    * Shared with the oracle CTE; candidates lost to the cap could only have
    * been pairs whose ENTIRE overlap is stop-shingles.
    */
  private[queries] val NgramDfCap = 100

  // -- n-gram Jaccard near-dup pairs via shingle inverted index ---------------
  // Scale path: explode shingles -> df-cap the postings -> self-join on
  // shingle (high-cardinality shuffle key, no bucket larger than the cap) ->
  // exact jaccard re-verified from the FULL shingle sets, so the cap is a
  // candidate-pruning step only (same shape as the MinHash LSH verify).
  private def dedupNgram(s: SparkSession, dir: String): DataFrame = {
    // persisted: the shingled corpus is read four times below (postings,
    // per-doc stats, both sides of the exact verify) — uncached, each use
    // re-shingles every document; the posting list feeds three consumers
    // the same way (harness-level clearCache releases both)
    val d = docs(s, dir).select(col("doc_id"), shingleExpr.as("ss")).persist()
    // eager fills (r12 broadcast-bypass lesson, finished in r13 — §3):
    // broadcast-exchange builds run as their own jobs and recompute an
    // UNFILLED persisted subtree from parquet; the stats sides below
    // broadcast under AQE at gate scale, so fill d (the shingling) and
    // capped (the df-cap semi join) before anything can race them
    d.count()
    val inv = d.select(col("doc_id"), explode(col("ss")).as("s"))
    val rare = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= NgramDfCap).select("s")
    val capped = inv.join(rare, Seq("s"), "left_semi").persist()
    capped.count()
    // per-doc side stats for the count prune: full set size, capped size
    val stats = d.select(col("doc_id"), size(col("ss")).cast("long").as("nss"))
      .join(capped.groupBy("doc_id").agg(count(lit(1)).as("ncap")),
        Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("ncap"))
    val a = capped.select(col("doc_id").as("a_id"), col("s"))
    val b = capped.select(col("doc_id").as("b_id"), col("s"))
    // c = |shared capped shingles| (exact: one row per shared posting) —
    // the same shuffle a bare pair-distinct would do, but the count feeds
    // an EXACT pruning bound: true_common ≤ c + min(stop_a, stop_b)
    // (stop = shingles lost to the df cap), and J > 0.5 ⟺
    // 3·true_common > |A|+|B|. Candidates failing the bound can never
    // verify, so the expensive array re-join runs on survivors only —
    // measured 118k candidates → a handful at sf0.01, identical output.
    // The stats joins stay plain equi joins (AQE broadcasts them at small
    // SF; at corpus scale stats is 1 row/doc and shuffles fine).
    val cand = a.join(b, Seq("s")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("c"))
    val pruned = cand
      .join(stats.select(col("doc_id").as("a_id"), col("nss").as("a_nss"),
        col("ncap").as("a_ncap")), Seq("a_id"))
      .join(stats.select(col("doc_id").as("b_id"), col("nss").as("b_nss"),
        col("ncap").as("b_ncap")), Seq("b_id"))
      .filter(lit(3L) * (col("c") +
        least(col("a_nss") - col("a_ncap"), col("b_nss") - col("b_ncap"))) >
        col("a_nss") + col("b_nss"))
      .select("a_id", "b_id")
    exactJaccardVerify(d, pruned)
  }

  /** Distinct word-trigram shingles (the MinHash item space — far more
    * discriminative than char n-grams on natural text, and 5-10× smaller).
    * Slices a pre-split `toks` column: putting split(text) inside the
    * lambda would re-tokenize the whole text once PER SHINGLE POSITION
    * (outer computed subexpressions in HOF lambdas re-evaluate per
    * element; only bound attribute reads are free). */
  private val trigramOfToks: Column = expr(
    "array_distinct(transform(sequence(1, greatest(size(toks) - 2, 1)), " +
      "i -> concat_ws(' ', slice(toks, i, 3))))")

  // -- MinHash + LSH dedup -----------------------------------------------------
  // k=12 min-hashes over word trigrams via ONE md5 per shingle + 12 affine
  // transforms h_i(x) = (a_i·x + b_i) mod (2^31−1) over the 60-bit md5
  // prefix (the classic universal family — hashing every shingle k times
  // was the query's dominant cost, ~2× slower). The multipliers must be
  // WIDE: an early spelling used a_i = 2i+3, which is order-preserving for
  // x < p/a_i — so any shingle hashing below ~p/25 owned the minimum of
  // ALL 12 functions (with ~31 shingles/doc that is ~70% of docs), and a
  // one-word edit could flip every band at once (measured false
  // negatives). The fixed wide constants below wrap mod p and decorrelate
  // the argmins; a_i·x + b_i < 2^63 stays in signed BIGINT on both
  // engines. 4 bands of 3; candidates =
  // band-bucket join; candidates then verified with EXACT jaccard >= 0.7 (so
  // LSH is purely a pruning step and the result is deterministic on both
  // engines — the oracle mirrors the same family, and all values stay in
  // [0, 2^31) so BIGINT arithmetic agrees between Spark and DuckDB). Shape
  // matters at scale: the band join and the pair-distinct run over
  // (band, id) longs only — the shingle sets are re-joined per candidate
  // id afterwards, so the shuffle never carries the big arrays.
  /** Persisted (doc_id, ss, bm) frame: trigram shingle sets + their base
    * hashes. The persist is an optimization barrier (CollapseProject cannot
    * cross an InMemoryRelation): split(text) stays at one eval per doc
    * instead of one per shingle position, and md5 at ONE eval per shingle
    * instead of one per min-hash function (subexpression elimination cannot
    * reach inside higher-order-function lambdas). Callers unpersist.
    */
  private[graft] def minhashPrep(docs: DataFrame): DataFrame = {
    // fused md5-prefix hash (functions/Md5BitsExpression) — SQL-registered
    // so it reaches inside the transform() lambda; value-identical to the
    // conv(substring(md5)) chain the oracle runs
    graft.functions.VectorFunctions.register(docs.sparkSession)
    // the intermediate persist is itself a barrier: without it
    // CollapseProject inlines split(text) into the trigram lambda and the
    // text is re-tokenized once per shingle position
    val toked = docs.select(col("doc_id"), expr("split(text, ' ')").as("toks"))
      .persist()
    val prep = toked.select(col("doc_id"), trigramOfToks.as("ss"))
      .withColumn("bm", expr(
        "transform(ss, s -> md5_bits(s, 1, 15) % 2147483647)"))
      .persist()
    // materialize the outer cache now so the inner one can be dropped here:
    // callers only ever see (and unpersist) `prep`, and a long-running
    // stream calling this per micro-batch must not leak one cached RDD per
    // batch via an unreachable `toked` handle
    prep.count()
    toked.unpersist()
    prep
  }

  /** Fixed wide multipliers/offsets for the 12 affine min-hash functions
    * (derived once from md5("graft-minhash-{a,b}-i"); any well-mixed
    * constants < 2^31 work — see the family note above). Mirrored verbatim
    * in the DuckDB oracle CTEs.
    */
  private[graft] val MinhashA: Seq[Long] = Seq(
    1900758860L, 2059875895L, 863430688L, 1261300854L, 1870956052L, 24458362L,
    1671275798L, 761587636L, 1564545757L, 358041313L, 1407669789L, 654221512L)
  private[graft] val MinhashB: Seq[Long] = Seq(
    1824592733L, 215327258L, 660276297L, 922769266L, 1990033975L, 48991396L,
    327916556L, 2056703250L, 465947191L, 986870966L, 1874215380L, 2116271579L)

  /** LSH bands (doc_id, band_idx, band_hash) from a minhashPrep frame:
    * k=12 affine min-hashes in 4 bands of 3.
    */
  private[graft] def minhashBandsOf(prep: DataFrame): DataFrame = {
    // per-band mins inline (i = 3b, 3b+1, 3b+2): exactly 12 array_min
    // evals per doc in one projection — an intermediate `sig` column
    // would be re-inlined into every band lambda by CollapseProject;
    // bands are unrolled Scala-side so the constants inline as literals
    def minExpr(i: Int) =
      s"array_min(transform(bm, h -> (${MinhashA(i)} * h + ${MinhashB(i)}) % 2147483647))"
    val bandExprs = (0 until 4).map(b =>
      s"md5(concat(${minExpr(3 * b)}, '|', ${minExpr(3 * b + 1)}, '|', ${minExpr(3 * b + 2)}))")
    prep.select(col("doc_id"),
      posexplode(expr(s"array(${bandExprs.mkString(", ")})"))
        .as(Seq("band_idx", "band_hash")))
  }

  /** Verified MinHash near-dup pairs (exact trigram-set jaccard >= 0.7
    * behind the 4x3 banded-LSH candidate step) — shared by d_dedup_minhash
    * and the ROUGE pair eval so the two cannot drift on what "a near-dup
    * pair" means. */
  private def minhashVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val d = minhashPrep(docs(s, dir))
    val bands = minhashBandsOf(d)
    val a = bands.select(col("band_idx"), col("band_hash"), col("doc_id").as("a_id"))
    val b = bands.select(col("band_idx"), col("band_hash"), col("doc_id").as("b_id"))
    val cand = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sets = d.select(col("doc_id"), col("ss"))
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("ss").as("a_ss")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("ss").as("b_ss")), Seq("b_id"))
      .withColumn("n_common", size(array_intersect(col("a_ss"), col("b_ss"))))
      .withColumn("n_union",
        size(col("a_ss")) + size(col("b_ss")) - col("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= 0.7)
      .select(col("a_id"), col("b_id"), col("n_common"), col("n_union"), col("jaccard"))
  }

  private def dedupMinHash(s: SparkSession, dir: String): DataFrame =
    minhashVerifiedPairs(s, dir).orderBy("a_id", "b_id")

  // -- generation-eval staple: ROUGE-1/2 F1 over the near-dup pairs ------------
  // The n-gram overlap metric every summarization/generation eval stack
  // reports, run where a data pipeline actually needs it: quantifying HOW
  // similar each verified near-dup pair is before choosing a survivor
  // (jaccard on shingle SETS ignores multiplicity; ROUGE counts clipped
  // multiset overlap, so boilerplate-heavy repeats score differently).
  // Exactness: overlap = sum of per-gram min(count_a, count_b) — exact
  // BIGINTs; since precision and recall share that numerator, F1 collapses
  // to 2*ov/(len_a+len_b): ONE double division from exact integers, no
  // rounding needed. Scale: cost is pairs x doc length through two
  // gram-count equi joins — never corpus x corpus; the gram-count frames
  // are one tokenize scan each.
  private def rougePairs(s: SparkSession, dir: String): DataFrame =
    rougeCore(minhashVerifiedPairs(s, dir).select("a_id", "b_id"), docs(s, dir))

  /** ROUGE on the POWER-LAW corpus: same metric body, pairs from the
    * lossless PPJoin (d_dedup_prefix_zipf's verified output — 911 pairs at
    * the fixture parameters vs the sf corpus's 25), so the overlap
    * arithmetic is also gated where gram frequencies actually vary. */
  private def rougeZipf(s: SparkSession, dir: String): DataFrame =
    rougeCore(zipfPairs(s).select("a_id", "b_id"),
      graft.sources.ZipfGateFixture.docs(s))

  private def rougeCore(pairs: DataFrame, docs0: DataFrame): DataFrame = {
    // toked feeds three branches of the LAZY result frame (uni, bi, lens),
    // so it cannot be unpersisted inside this builder; the harness's
    // per-query clearCache releases it (same contract as prefixJoinBody).
    val toked = docs0.select(col("doc_id"), tokensExpr.as("toks"))
      .persist()
    // eager fill: the lens side broadcasts into the pair join under AQE;
    // unfilled, that build would re-tokenize from parquet (§3)
    toked.count()
    val uni = toked.select(col("doc_id"), explode(col("toks")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val bi = toked
      .withColumn("bgs", expr(
        "case when size(toks) < 2 then array() else " +
          "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) end"))
      .select(col("doc_id"), explode(col("bgs")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val lens = toked.select(col("doc_id"),
      size(col("toks")).cast("long").as("n1"),
      greatest(size(col("toks")) - 1, lit(0)).cast("long").as("n2"))
    def overlap(grams: DataFrame, out: String) = pairs
      .join(grams.select(col("doc_id").as("a_id"), col("g"), col("c").as("ca")),
        Seq("a_id"))
      .join(grams.select(col("doc_id").as("b_id"), col("g"), col("c").as("cb")),
        Seq("b_id", "g"))
      .groupBy("a_id", "b_id")
      .agg(sum(least(col("ca"), col("cb"))).as(out))
    def f1(ov: Column, na: Column, nb: Column): Column =
      when(na + nb === 0, lit(0.0))
        .otherwise(lit(2.0) * ov.cast("double") / (na + nb).cast("double"))
    pairs
      .join(lens.select(col("doc_id").as("a_id"),
        col("n1").as("n1_a"), col("n2").as("n2_a")), Seq("a_id"))
      .join(lens.select(col("doc_id").as("b_id"),
        col("n1").as("n1_b"), col("n2").as("n2_b")), Seq("b_id"))
      .join(overlap(uni, "ov1"), Seq("a_id", "b_id"), "left")
      .join(overlap(bi, "ov2"), Seq("a_id", "b_id"), "left")
      .withColumn("ov1", coalesce(col("ov1"), lit(0L)))
      .withColumn("ov2", coalesce(col("ov2"), lit(0L)))
      .select(col("a_id"), col("b_id"), col("ov1"), col("ov2"),
        f1(col("ov1"), col("n1_a"), col("n1_b")).as("rouge1_f"),
        f1(col("ov2"), col("n2_a"), col("n2_b")).as("rouge2_f"))
      .orderBy("a_id", "b_id")
  }

  // -- MinHash LSH recall audit ------------------------------------------------
  // "Measure, don't guess" for the banding parameters: every TRUE near-dup
  // pair (exact trigram-set jaccard >= 0.7, found through an UNCAPPED
  // shingle inverted index — a >=0.7 pair must share a shingle, so the
  // index misses nothing) is marked with whether the 4×3 LSH band stage
  // proposed it. Recall = fraction caught; a parameter change (bands,
  // rows, hash family) shows up as flipped `caught` bits, gated by the
  // oracle. The uncapped self-join is quadratic in the hottest shingle's
  // df — this is the audit you run on a SAMPLE when tuning, not on the
  // full corpus (the production candidate path stays df-capped/banded).
  private def minhashAudit(s: SparkSession, dir: String): DataFrame = {
    val d = minhashPrep(docs(s, dir))
    val bands = minhashBandsOf(d)
    val cand = bands
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("a_id"))
      .join(bands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("b_id")), Seq("band_idx", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
      .withColumn("hit", lit(1))
    val inv = d.select(col("doc_id"), explode(col("ss")).as("sg"))
    val tc = inv.select(col("doc_id").as("a_id"), col("sg"))
      .join(inv.select(col("doc_id").as("b_id"), col("sg")), Seq("sg"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sets = d.select(col("doc_id"), col("ss"))
    tc.join(sets.select(col("doc_id").as("a_id"), col("ss").as("a_ss")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("ss").as("b_ss")), Seq("b_id"))
      .withColumn("n_common",
        size(array_intersect(col("a_ss"), col("b_ss"))).cast("long"))
      .withColumn("n_union",
        (size(col("a_ss")) + size(col("b_ss"))).cast("long") - col("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= 0.7)
      .join(cand, Seq("a_id", "b_id"), "left_outer")
      .select(col("a_id"), col("b_id"), col("jaccard"),
        col("hit").isNotNull.as("caught"))
      .orderBy("a_id", "b_id")
  }

  // -- SimHash dedup -----------------------------------------------------------
  // 64-bit simhash over weighted word tokens; the per-token hash is the first
  // 16 md5 hex chars taken as two 32-bit halves (a single conv() of 16 chars
  // would overflow signed BIGINT). Near-dup pairs via 4 disjoint 16-bit bands
  // (pigeonhole: hamming<=3 always caught). Band-value cardinality is 2^16,
  // so candidate pairs stay ~Σ bucket² / 2 instead of the old 256-value
  // bands' ~n²/512 — the scale path at n≫10⁵.
  // Sign-bit care, identical on both engines: bit 63 contributes
  // Long.MinValue by ADDITION (DuckDB raises on 1::BIGINT << 63); band
  // extraction masks after the arithmetic shift, so sign extension cancels.
  private[queries] def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    // one shuffle: (doc, token) counts; the 64 bit-sums are plain aggregate
    // columns (no bit explode), then recombined — same math as the oracle's
    // unnested form, 2x fewer shuffles
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(tokensExpr).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .withColumn("h_hi", graft.functions.Md5BitsFunctions.md5Bits(col("tok"), 1, 8))
      .withColumn("h_lo", graft.functions.Md5BitsFunctions.md5Bits(col("tok"), 9, 8))
    val bitSums = (0 until 64).map { b =>
      val bit =
        if (b < 32) expr(s"shiftright(h_lo, $b) % 2")
        else expr(s"shiftright(h_hi, ${b - 32}) % 2")
      sum(col("c") * (bit * 2 - 1)).as(s"v$b")
    }
    tf.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        ((0 until 63).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)) :+
          when(col("v63") > 0, lit(Long.MinValue)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** 4 disjoint 16-bit bands of a 64-bit signature, for LSH bucketing. */
  private[queries] def simhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        expr(s"shiftright(simhash, ${16 * b}) & 65535")): _*))
        .as(Seq("band_idx", "band_val")))

  private def dedupSimHash(s: SparkSession, dir: String): DataFrame = {
    val bands = simhashBands(simhashSigs(s, dir))
    val a = bands.select(col("band_idx"), col("band_val"),
      col("doc_id").as("a_id"), col("simhash").as("a_sh"))
    val b = bands.select(col("band_idx"), col("band_val"),
      col("doc_id").as("b_id"), col("simhash").as("b_sh"))
    a.join(b, Seq("band_idx", "band_val")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sh"), col("b_sh")).distinct()
      .withColumn("hamming", expr("bit_count(a_sh ^ b_sh)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("a_sh"), col("b_sh"), col("hamming"))
      .orderBy("a_id", "b_id")
  }

  // -- dup clusters: transitive closure over MinHash pairs ---------------------
  // Pairwise verdicts become components (the unit a dedup job actually keeps
  // or drops): connected components over the verified MinHash pairs,
  // cluster id = min doc_id of the component.
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    graft.operators.ConnectedComponents
      .clusters(dedupMinHash(s, dir).select("a_id", "b_id"), "a_id", "b_id")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")

  // -- combined-signal dedup clustering ----------------------------------------
  // The production dedup decision is rarely one signal: canonical
  // fingerprint duplicates (same sorted distinct token SET — catches
  // token-permuted/repeated rewrites whose trigram shingles differ, as
  // star edges member→group-min; a clique has the same components) and
  // verified MinHash near-dup pairs union into ONE edge set, and
  // connected components give the final clusters. A doc caught by either
  // signal lands in the same cluster as its duplicates — the merge step a
  // multi-signal dedup pipeline needs, instead of running the signals
  // independently and double-dropping.
  private def dedupCombined(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), fingerprintExpr.as("h"))
    val reps = d.groupBy("h").agg(min(col("doc_id")).as("rep"))
    val fpEdges = d.join(reps, Seq("h"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("a_id"), col("doc_id").as("b_id"))
    val mh = dedupMinHash(s, dir).select("a_id", "b_id")
    graft.operators.ConnectedComponents
      .clusters(mh.unionByName(fpEdges), "a_id", "b_id")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  // -- per-doc token statistics ------------------------------------------------
  private def tokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", tokensExpr)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        length(col("text")).cast("long").as("n_chars"),
        (expr("aggregate(toks, 0L, (a, t) -> a + length(t))").cast("double")
          / size(col("toks")).cast("double")).as("avg_token_len"),
        (size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")).cast("double")).as("type_token_ratio"))
      .orderBy("doc_id")

  /** Stopword list shared with the oracle (integer-ratio thresholds only). */
  private val stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  // -- quality scoring: integer counts + bucket (no float thresholds) ---------
  private def quality(s: SparkSession, dir: String): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    docs(s, dir)
      .withColumn("toks", tokensExpr)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => array_contains(stopArr, t))).cast("long"))
      .withColumn("n_punct",
        (length(col("text")) - length(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""))).cast("long"))
      .withColumn("quality_bucket",
        when(col("n_tokens") < 10, "too_short")
          .when(col("n_stop") * 2 >= col("n_tokens"), "stopword_heavy")
          .when(col("n_punct") * 5 >= col("n_tokens"), "punct_heavy")
          .otherwise("ok"))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"), col("n_punct"),
        length(col("text")).cast("long").as("n_chars"), col("quality_bucket"))
      .orderBy("doc_id")
  }

  // -- model-based quality filtering (FineWeb-Edu shape) ----------------------
  // The classifier-filter step: a linear model over cheap doc features
  // (stopword ratio, lexical diversity, mean token length, length credit)
  // through a sigmoid, keep above threshold. The weights here are fixed
  // stand-ins for a trained model's — the SPARK SHAPE is the deliverable:
  // every feature is a ratio of exact integer counts computed in the same
  // scan (zero shuffle, codegen'd HOFs), the logit is ONE shared IEEE
  // tree, and the sigmoid's exp() is wrapped in round(…, 6) like ln() in
  // the entropy screen. At 100 TB this is a pure map over the corpus —
  // the cheapest possible filter shape.
  private val QcTau = 0.71

  private def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    docs(s, dir)
      .withColumn("toks", tokensExpr)
      .filter(size(col("toks")) > 0)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => array_contains(stopArr, t))).cast("long"))
      .withColumn("n_distinct",
        size(array_distinct(col("toks"))).cast("long"))
      .withColumn("sum_len",
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))"))
      .withColumn("z",
        lit(-2.0) +
          lit(6.0) * (col("n_stop").cast("double") / col("n_tokens").cast("double")) +
          lit(2.0) * (col("n_distinct").cast("double") / col("n_tokens").cast("double")) +
          lit(0.3) * (col("sum_len").cast("double") / col("n_tokens").cast("double")) +
          lit(0.004) * least(col("n_tokens"), lit(250L)).cast("double"))
      .withColumn("score_r", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
      .withColumn("kept", when(col("score_r") >= QcTau, 1L).otherwise(0L))
      .select("doc_id", "n_tokens", "n_stop", "n_distinct", "score_r", "kept")
      .orderBy("doc_id")
  }

  // -- classifier calibration: reliability-diagram bins -------------------------
  // The eval that decides whether a quality classifier's SCORES are usable
  // as probabilities (for threshold picking / importance weighting) or only
  // as a ranking: docs bucket into 10 equal-width confidence bins; each bin
  // reports mean confidence vs empirical accuracy against an INDEPENDENT
  // reference label (the relative quality gate's above-lang-median rule —
  // the d_quality_gate_rel spelling). The per-bin |acc − conf| column is
  // the reliability-diagram gap; ECE is its n-weighted sum, left derivable
  // so no cross-bin float summation ever happens inside the gate. Exactness:
  // the 6dp score quantizes to integer 1e-6 units BEFORE the bin sum
  // (sum of k/1e6 doubles would be order-dependent; the BIGINT sum is not),
  // and acc/conf are single divisions of exact integers. One scan + a
  // 10-row aggregate; the lang-median threshold is a broadcast.
  private def calibrationBins(s: SparkSession, dir: String): DataFrame = {
    val scores = qualityClassifier(s, dir).select("doc_id", "score_r")
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
      size(tokensExpr).cast("long").as("n_tokens"))
    val th = d.groupBy(col("lang").as("t_lang"))
      .agg(expr("percentile(n_tokens, 0.5)").as("p50"))
    val labeled = d.join(broadcast(th), col("lang") === col("t_lang"))
      .withColumn("label",
        when(col("n_tokens").cast("double") >= col("p50"), 1L).otherwise(0L))
      .select("doc_id", "label")
    scores.join(labeled, Seq("doc_id"))
      .withColumn("bin", least(floor(col("score_r") * 10).cast("long"), lit(9L)))
      .withColumn("score_u", floor(col("score_r") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("label")).as("n_pos"),
        sum(col("score_u")).as("sum_u"))
      .withColumn("conf_r",
        (col("sum_u").cast("double") / col("n_docs").cast("double")) / lit(1e6))
      .withColumn("acc_r", col("n_pos").cast("double") / col("n_docs").cast("double"))
      .withColumn("gap_r", abs(col("acc_r") - col("conf_r")))
      .select("bin", "n_docs", "n_pos", "conf_r", "acc_r", "gap_r")
      .orderBy("bin")
  }

  /** Marker stopwords per candidate language (shared with the oracle). */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est"),
    "es" -> Seq("el", "los", "y", "es"))

  // -- language-ID: n-gram (word-marker) heuristic, deterministic argmax ------
  private def langId(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).withColumn("toks", tokensExpr)
    val withCounts = langMarkers.foldLeft(base) { case (df, (lang, markers)) =>
      val arr = array(markers.map(lit): _*)
      df.withColumn(s"n_$lang",
        size(filter(col("toks"), t => array_contains(arr, t))).cast("long"))
    }
    withCounts
      .withColumn("pred_lang",
        when(col("n_en") >= col("n_de") && col("n_en") >= col("n_fr") &&
          col("n_en") >= col("n_es"), "en")
          .when(col("n_de") >= col("n_fr") && col("n_de") >= col("n_es"), "de")
          .when(col("n_fr") >= col("n_es"), "fr")
          .otherwise("es"))
      .select(col("doc_id"), col("n_en"), col("n_de"), col("n_fr"), col("n_es"),
        col("pred_lang"))
      .orderBy("doc_id")
  }

  // -- repetition / boilerplate signals (Gopher-style quality filters) --------
  // Per-doc repetition statistics used by large-corpus quality filtering:
  // multiplicity of the most frequent word and word-bigram, and the fraction
  // of word-trigrams that are repeats. The top-multiplicity is computed as
  // the longest equal-run of the SORTED n-gram array — a linear codegen'd
  // fold per row (array_sort + aggregate), so the whole operator is a narrow
  // scan with zero shuffles and zero per-doc quadratic work; at 100 TB it
  // scales with corpus bytes, not vocabulary. All thresholds are integer
  // cross-multiplications (no float compare drift vs the oracle).
  /** Longest run of equal values in the sorted array column `arr`. */
  private def topMultiplicityExpr(arr: String): Column = expr(
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
       |  (a, x) -> named_struct(
       |    'prev', x,
       |    'run',  if(a.prev <=> x, a.run + 1L, 1L),
       |    'best', greatest(a.best, if(a.prev <=> x, a.run + 1L, 1L))),
       |  a -> a.best)""".stripMargin)

  /** Adjacent word n-grams as space-joined strings (empty below n tokens —
    * Spark's sequence(1, 0) counts DOWN, it is not an empty range). */
  private def wordNgramsExpr(n: Int): Column = expr(
    s"""if(size(toks) < $n, array(),
       |  transform(sequence(1, size(toks) - ${n - 1}),
       |    i -> concat_ws(' ', ${(0 until n).map(j => s"element_at(toks, i + $j)").mkString(", ")})))""".stripMargin)

  private def repetition(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", tokensExpr)
      .withColumn("bgs", wordNgramsExpr(2))
      .withColumn("tgs", wordNgramsExpr(3))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        topMultiplicityExpr("toks").as("top_word_n"),
        size(col("bgs")).cast("long").as("n_bigrams"),
        topMultiplicityExpr("bgs").as("top_bigram_n"),
        size(col("tgs")).cast("long").as("n_trigrams"),
        (size(col("tgs")) - size(array_distinct(col("tgs"))))
          .cast("long").as("dup_trigram_n"))
      .withColumn("rep_bucket",
        when(col("n_tokens") === 0, "empty")
          .when(col("top_word_n") * 4 >= col("n_tokens"), "word_repetitive")
          .when(col("n_bigrams") > 0 &&
            col("top_bigram_n") * 8 >= col("n_bigrams"), "bigram_repetitive")
          .when(col("n_trigrams") > 0 &&
            col("dup_trigram_n") * 2 >= col("n_trigrams"), "trigram_dupey")
          .otherwise("ok"))
      .orderBy("doc_id")

  // -- benchmark decontamination: eval-set n-gram overlap ---------------------
  // The train/test-leakage gate every corpus run needs: a held-out benchmark
  // set (here a deterministic doc_id split) is reduced to its distinct word
  // 8-grams; each remaining corpus doc counts how many of ITS distinct
  // 8-grams collide and is flagged on any hit. Scale shape: eval sets are
  // tiny (MBs) next to a 100 TB corpus, so the benchmark gram set is
  // broadcast and the corpus side stays a narrow scan → explode →
  // broadcast semi-join → partial-agg count — no all-pairs work and the
  // only exchange is the final per-doc count combine.
  private[queries] val DecontamBenchMod = 19
  private[queries] val DecontamN = 8

  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .withColumn("toks", tokensExpr)
      .withColumn("grams", array_distinct(wordNgramsExpr(DecontamN)))
    val bench = base.filter(col("doc_id") % DecontamBenchMod === 0)
    val corpus = base.filter(col("doc_id") % DecontamBenchMod =!= 0)
    val benchGrams = bench.select(explode(col("grams")).as("g")).distinct()
    val hits = corpus.select(col("doc_id"), explode(col("grams")).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    corpus.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("decontam_bucket",
        when(col("n_hit") > 0, "contaminated").otherwise("clean"))
      .orderBy("doc_id")
  }

  // -- fuzzy benchmark decontamination -------------------------------------------
  // d_decontaminate is exact n-gram containment — it misses paraphrased or
  // lightly-edited benchmark leaks. The fuzzy pass reuses the MinHash LSH
  // machinery: band the BENCH slice and the corpus with the same 12-hash/
  // 4-band family, candidates = corpus bands ⋈ bench bands (shuffle keyed
  // on band hashes — the bench side is tiny, so at fleet scale this is a
  // broadcast), then verify exact trigram-set Jaccard ≥ 0.5 (looser than
  // the 0.7 dedup threshold: decontamination prefers false positives over
  // leaked eval data). Output: each contaminated corpus doc with its match
  // count and strongest overlap.
  private val FuzzyBenchMod = 6
  private def decontaminateFuzzy(s: SparkSession, dir: String): DataFrame = {
    val d = minhashPrep(docs(s, dir))
    val bands = minhashBandsOf(d)
    val bb = bands.filter(col("doc_id") % FuzzyBenchMod === 0)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("bench_id"))
    val cb = bands.filter(col("doc_id") % FuzzyBenchMod =!= 0)
    val cand = cb.join(bb, Seq("band_idx", "band_hash"))
      .select("doc_id", "bench_id").distinct()
    val sets = d.select(col("doc_id"), col("ss"))
    val out = cand
      .join(sets.select(col("doc_id"), col("ss").as("c_ss")), Seq("doc_id"))
      .join(sets.select(col("doc_id").as("bench_id"), col("ss").as("b_ss")),
        Seq("bench_id"))
      .withColumn("n_common",
        size(array_intersect(col("c_ss"), col("b_ss"))).cast("long"))
      .withColumn("n_union",
        (size(col("c_ss")) + size(col("b_ss"))).cast("long") - col("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= 0.5)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy("doc_id")
    out
  }

  // -- duplicate-span inventory (exact substring dedup) -----------------------
  // Span-level exact dedup à la "Deduplicating Training Data Makes Language
  // Models Better": every SpanK-token window is hashed and windows whose hash
  // occurs in ≥2 documents are duplicated spans. The sequential literature
  // builds a suffix array; the distributed spelling is an embarrassingly
  // parallel explode (one row per corpus token, carrying only (doc_id, hash))
  // into ONE hash-partitioned aggregate — no all-pairs work, map-side partial
  // aggregation absorbs within-partition repeats. md5 is the oracle-parity
  // hash; at 100 TB you would carry xxhash64 (8 bytes vs 32) instead.
  private[queries] val SpanK = 15

  private def spanWindows(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", tokensExpr)
      .select(col("doc_id"), posexplode(wordNgramsExpr(SpanK)).as(Seq("pos", "span")))
      .select(col("doc_id"), col("pos"), md5(col("span")).as("span_hash"))

  private def dedupSpans(s: SparkSession, dir: String): DataFrame =
    spanWindows(s, dir)
      .groupBy("span_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("span_hash")

  // Per-doc duplication fraction — the filtering signal derived from the span
  // inventory (drop or trim docs whose dup_ratio exceeds a budget). The
  // windows frame is deliberately recomputed on both sides of the join: at
  // corpus scale a narrow scan+explode is cheaper than caching corpus-sized
  // window rows, and both sides shuffle on the same span_hash key.
  private def dupRatio(s: SparkSession, dir: String): DataFrame = {
    val w = spanWindows(s, dir)
    val perHash = w.groupBy("span_hash")
      .agg(countDistinct(col("doc_id")).as("nd"))
    w.join(perHash, Seq("span_hash"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio",
        col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
      .orderBy("doc_id")
  }

  // -- maximal duplicated spans (the dedup paper's actual trim unit) ----------
  // Consecutive duplicated SpanK-windows merged into maximal (start_tok,
  // end_tok) extents per doc — what a trim/remove pass would actually cut,
  // rather than the raw window inventory. Classic gaps-and-islands: group key
  // = pos − row_number() among a doc's duplicated windows. The window
  // function partitions by doc_id, so its state is bounded by ONE document's
  // window count (not corpus-global) — the safe kind of Window at 100 TB.
  // Token indices are 1-based inclusive, matching the oracle's range(1, …).
  private def dupSpansMerged(s: SparkSession, dir: String): DataFrame = {
    val w = spanWindows(s, dir)
    val perHash = w.groupBy("span_hash")
      .agg(countDistinct(col("doc_id")).as("nd"))
    val dup = w.join(perHash, Seq("span_hash")).filter(col("nd") >= 2)
    val isl = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("grp", col("pos") - row_number().over(isl))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("sw"), max(col("pos")).as("ew"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"),
        (col("sw") + 1).cast("long").as("start_tok"),
        (col("ew") + SpanK).cast("long").as("end_tok"),
        col("n_windows"))
      .orderBy("doc_id", "start_tok")
  }

  // -- span-trim application (the dedup paper's remove step, executed) ---------
  // d_dup_spans_merged reports WHERE the duplicated spans are; this op
  // actually removes them: every token covered by a duplicated window is
  // dropped UNLESS this doc is the span's canonical keeper (the span
  // hash's lowest doc_id keeps its occurrence — exactly one copy of every
  // duplicated passage survives corpus-wide). Output per doc: original and
  // kept token counts and the md5 of the trimmed text, so the gate checks
  // the RESULT of trimming, not just the instructions. Plan shapes: the
  // window inventory is the one span_hash shuffle the d_dedup_spans
  // family already pays; dropped windows expand SpanK× into token drops
  // (bounded by dup mass, not corpus); the anti join and the per-doc
  // reassembly group on doc_id — per-doc arrays, never corpus-wide state.
  private def trimSpans(s: SparkSession, dir: String): DataFrame = {
    val w = spanWindows(s, dir)
    val firstDoc = w.groupBy("span_hash")
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("nd") >= 2)
    val dropTokens = w.join(firstDoc, Seq("span_hash"))
      .filter(col("doc_id") =!= col("first_doc"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${SpanK - 1})")).as("t"))
      .distinct()
    val toks = docs(s, dir)
      .select(col("doc_id"), posexplode(tokensExpr).as(Seq("t", "tok")))
    val kept = toks.join(dropTokens, Seq("doc_id", "t"), "left_anti")
    toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      .join(kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(t, tok))), x -> x.tok)")))
            .as("kept_md5")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"),
        round((col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast("double") / col("n_tokens").cast("double"), 6)
          .as("trim_ratio"))
      .orderBy("doc_id")
  }

  // -- quality-aware dedup resolution: keep the best doc per cluster ----------
  // Production dedup does not keep min-id — it keeps the BEST member of each
  // near-dup cluster. Survivor = the member with the most word tokens,
  // ties broken to the lowest doc_id, spelled as one max(struct(n_tokens,
  // -doc_id)) aggregate so selection rides the same single shuffle as the
  // membership count (no window, no second pass over the corpus). Docs in
  // no cluster are their own singleton cluster via the left join.
  private def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val nt = docs(s, dir)
      .select(col("doc_id"), size(tokensExpr).cast("long").as("n_tokens"))
    nt.join(dedupClusters(s, dir), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        col("best.n_tokens").as("survivor_tokens"),
        (-col("best.nid")).as("survivor_id"))
      .orderBy("cluster_id")
  }

  // -- q-digest quantile sketch --------------------------------------------------
  // Quantiles over a LARGE integer domain (here the 16-bit md5 bucket of
  // every token occurrence — a stand-in for any huge-domain column where
  // q_quantiles_exact's per-value histogram would be too wide to keep).
  // Built from exact per-value counts (the d_cms_heavy determinism trick:
  // the histogram is the one data-sized shuffle AND the mergeable state;
  // the bottom-up compression in operators/QDigest is then a deterministic
  // function of it, so both engines produce the bit-identical sketch).
  // Output value-checks, per target quantile: the sketch estimate, the
  // exact quantile, the estimate's exact rank (its error is the q-digest
  // guarantee ≤ n·bits/k, asserted in QDigestSpec), and the sketch size.
  private val QdBits = 16
  private val QdK = 64
  private val QdTargets = Seq(("p25", 1L, 4L), ("p50", 1L, 2L),
    ("p90", 9L, 10L), ("p99", 99L, 100L))

  private def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val counts = docs(s, dir)
      .select(explode(tokensExpr).as("tok"))
      .select(expr(s"md5_bits(tok, 1, ${QdBits / 4})").as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    val sk = graft.operators.QDigest.sketch(counts, QdBits, QdK)
    val nRow = counts.agg(sum(col("cnt")).as("n_total")).localCheckpoint(true)
    val nNodes = sk.agg(count(lit(1)).as("n_nodes")).localCheckpoint(true)
    // targets: rank r = ceil(q·n) via exact integer arithmetic
    val targets = {
      import s.implicits._
      QdTargets.toDF("label", "nu", "de")
    }.crossJoin(broadcast(nRow))
      .select(col("label"),
        expr("(nu * n_total + de - 1) div de").as("r"))
    val est = graft.operators.QDigest.quantiles(sk, QdBits, targets)
    // exact quantile per target: distributed prefix scan over the counts
    val cum = graft.operators.PrefixSum
      .exclusive(counts, "v", "cnt", "cum0")
      .withColumn("cum", col("cum0") + col("cnt"))
    val exact = cum.crossJoin(broadcast(targets))
      .filter(col("cum") >= col("r"))
      .groupBy("label").agg(min(col("v")).as("exact_v"))
    // rank of the estimate in the exact distribution
    val estRank = counts.crossJoin(broadcast(est))
      .groupBy("label", "r", "est")
      .agg(sum(when(col("v") <= col("est"), col("cnt")).otherwise(0L))
        .as("est_rank"))
    estRank.join(exact, Seq("label"))
      .crossJoin(broadcast(nRow)).crossJoin(broadcast(nNodes))
      .select(col("label"), col("r"), col("n_total"), col("est"),
        col("exact_v"), col("est_rank"), col("n_nodes"))
      .orderBy("label")
  }

  /** DuckDB mirror of one QDigest compression level (children at level
    * `l` of state CTE `prev` merge into their parents when the triple
    * count is under nn.thr). Two CTEs per level: the merge decision and
    * the new state. */
  private def qdLevelSql(l: Int, prev: String): String = {
    val lo = 1L << l
    val hi = (1L << (l + 1)) - 1L
    s"""dec$l AS MATERIALIZED (SELECT g.p, g.cs, COALESCE(pp.cnt, 0) AS pc,
       |    (g.cs + COALESCE(pp.cnt, 0) <= nn.thr) AS mg
       |  FROM (SELECT id // 2 AS p, SUM(cnt) AS cs FROM $prev
       |        WHERE id BETWEEN $lo AND $hi GROUP BY 1) g
       |  LEFT JOIN $prev pp ON pp.id = g.p, nn),
       |t$l AS MATERIALIZED (
       |  SELECT s.id, s.cnt FROM $prev s
       |  WHERE (s.id < $lo OR s.id > $hi)
       |    AND s.id NOT IN (SELECT p FROM dec$l WHERE mg)
       |  UNION ALL
       |  SELECT p AS id, cs + pc AS cnt FROM dec$l WHERE mg
       |  UNION ALL
       |  SELECT s.id, s.cnt FROM $prev s JOIN dec$l d ON d.p = s.id // 2
       |  WHERE s.id BETWEEN $lo AND $hi AND NOT d.mg)""".stripMargin
  }

  private def quantileSketchOracle: String = {
    val leafBase = 1L << QdBits
    val levels = (QdBits to 1 by -1)
      .map(l => qdLevelSql(l, if (l == QdBits) "s0" else s"t${l + 1}"))
      .mkString(",\n")
    val targetVals = QdTargets
      .map { case (lb, nu, de) => s"('$lb', $nu, $de)" }.mkString(", ")
    s"""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       |  FROM documents),
       |cnts AS MATERIALIZED (
       |  SELECT ('0x' || substr(md5(tok), 1, ${QdBits / 4}))::BIGINT AS v,
       |    COUNT(*)::BIGINT AS cnt FROM toks GROUP BY 1),
       |nn AS MATERIALIZED (SELECT SUM(cnt)::BIGINT AS n_total,
       |    SUM(cnt)::BIGINT // $QdK AS thr FROM cnts),
       |s0 AS MATERIALIZED (
       |  SELECT (v + $leafBase)::BIGINT AS id, cnt FROM cnts),
       |$levels,
       |rng AS (SELECT id, cnt,
       |    (id - (1::BIGINT << (length(bin(id)) - 1))) *
       |      (1::BIGINT << ($QdBits - (length(bin(id)) - 1))) AS lo
       |  FROM t1),
       |rng2 AS (SELECT id, cnt, lo,
       |    lo + (1::BIGINT << ($QdBits - (length(bin(id)) - 1))) - 1 AS hi
       |  FROM rng),
       |cumw AS (SELECT id, cnt, lo, hi,
       |    SUM(cnt) OVER (ORDER BY hi, lo
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM rng2),
       |targets AS (SELECT t.label, (t.nu * nn.n_total + t.de - 1) // t.de AS r
       |  FROM (VALUES $targetVals) t(label, nu, de), nn),
       |est AS (SELECT label, r, MIN(hi) AS est
       |  FROM cumw, targets WHERE cum >= r GROUP BY 1, 2),
       |cume AS (SELECT v, cnt,
       |    SUM(cnt) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM cnts),
       |exact AS (SELECT label, MIN(v) AS exact_v
       |  FROM cume, targets WHERE cum >= r GROUP BY 1),
       |rk AS (SELECT e.label, e.r, e.est,
       |    SUM(CASE WHEN c.v <= e.est THEN c.cnt ELSE 0 END)::BIGINT AS est_rank
       |  FROM est e, cnts c GROUP BY 1, 2, 3),
       |nnodes AS (SELECT COUNT(*)::BIGINT AS n_nodes FROM t1)
       |SELECT rk.label, rk.r, nn.n_total, rk.est, exact.exact_v,
       |  rk.est_rank, nnodes.n_nodes
       |FROM rk JOIN exact ON rk.label = exact.label, nn, nnodes
       |ORDER BY rk.label""".stripMargin
  }

  // -- tokenizer fertility audit ---------------------------------------------------
  // The multilingual tokenizer-quality staple: chars-per-token ("fertility")
  // and tokens-per-doc by language. A tokenizer that fragments one language
  // into shards (high fertility variance) starves it of effective context;
  // this is the audit run before committing a vocab. One scan, one
  // (lang)-keyed aggregate; the ratios are single IEEE divisions of exact
  // BIGINT sums.
  private def tokenFertility(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"), col("n_chars"),
        size(tokensExpr).cast("long").as("n_toks"),
        expr("aggregate(transform(" + tokensExprSql + ", t -> length(t)), " +
          "0L, (a, x) -> a + x)").as("tok_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("tok_chars")).as("total_tok_chars"))
      .withColumn("chars_per_token", round(
        col("total_tok_chars").cast("double") /
          col("total_tokens").cast("double"), 6))
      .withColumn("tokens_per_doc", round(
        col("total_tokens").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("lang")

  private val tokensExprSql =
    "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"

  // -- data-contract validation report --------------------------------------------
  // The ingest gate a production corpus runs before anything else: one
  // scan computes every contract check as a conditional aggregate —
  // null/empty payloads, out-of-domain language codes, metadata that
  // disagrees with the payload (n_chars vs length(text)), id uniqueness —
  // and the report unpivots to one row per check. At 100 TB this is ONE
  // pass with map-side partials (the id-uniqueness check is the only
  // distinct, and it shares the same shuffle); violations are counted,
  // not collected.
  private val ValidLangs = Seq("en", "de", "fr", "es", "zh")
  private def validateContract(s: SparkSession, dir: String): DataFrame = {
    val langList = ValidLangs.map(l => s"'$l'").mkString(", ")
    docs(s, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1L)
          .otherwise(0L)).as("empty_text"),
        sum(when(!col("lang").isin(ValidLangs: _*), 1L).otherwise(0L))
          .as("bad_lang"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("n_chars_mismatch"),
        sum(when(col("doc_id").isNull || col("doc_id") < 0, 1L)
          .otherwise(0L)).as("bad_id"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("dup_ids"))
      .select(expr(
        "stack(6, 'n_rows', n_rows, 'empty_text', empty_text, " +
          "'bad_lang', bad_lang, 'n_chars_mismatch', n_chars_mismatch, " +
          "'bad_id', bad_id, 'dup_ids', dup_ids) AS (check, n)"))
      .orderBy("check")
  }

  // -- sample-based profiling with error audit ------------------------------------
  // At 100 TB you profile a deterministic hash sample, not the corpus.
  // This op computes mean/variance of n_chars from a ~5% md5 sample AND
  // from the full data, side by side with the absolute error and the
  // CLT standard-error bound — the audit that tells you whether the cheap
  // estimate is trustworthy. All sums are integer (n_chars, n_chars²)
  // carried in DECIMAL(38,0); means/variances are shared IEEE trees.
  // Plan: two scans (sample is a pure per-row hash filter — no shuffle
  // beyond the two 1-row aggregates), one 1-row join.
  private def sampleEstimate(s: SparkSession, dir: String): DataFrame = {
    def stats(df: DataFrame, prefix: String): DataFrame =
      df.agg(count(lit(1)).as(s"${prefix}_n"),
          sum(col("n_chars").cast("decimal(38,0)")).cast("decimal(38,0)")
            .as(s"${prefix}_sum"),
          sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as(s"${prefix}_sumsq"))
        .withColumn(s"${prefix}_mean",
          col(s"${prefix}_sum").cast("double") /
            col(s"${prefix}_n").cast("double"))
        .withColumn(s"${prefix}_var",
          (col(s"${prefix}_sumsq").cast("double") -
            col(s"${prefix}_mean") * col(s"${prefix}_sum").cast("double")) /
            col(s"${prefix}_n").cast("double"))
    graft.functions.VectorFunctions.register(s)
    val d = docs(s, dir)
    val sample = d.filter(
      expr("md5_bits(concat('est:', cast(doc_id as string)), 1, 8) % 20 = 0"))
    stats(sample, "s").crossJoin(broadcast(stats(d, "f")))
      .select(col("s_n"), col("f_n"),
        round(col("s_mean"), 6).as("s_mean_r"),
        round(col("f_mean"), 6).as("f_mean_r"),
        round(abs(col("s_mean") - col("f_mean")), 6).as("mean_abs_err"),
        // CLT standard error of the sample mean, from the SAMPLE variance
        round(sqrt(col("s_var") / col("s_n").cast("double")), 6)
          .as("mean_se"),
        round(sqrt(col("f_var")), 6).as("f_std_r"))
  }

  // -- length-bucketed batch assembly (padding-waste minimization) --------------
  // Inference/eval batching wastes compute padding every sequence to the
  // batch max; bucketing by length first bounds that waste by the bucket
  // width. Batches of 8 are formed inside 64-char length buckets, in a
  // deterministic salted-hash order. Scale spelling: per-bucket ranks are
  // NOT a per-bucket window (one hot bucket = one reducer) — the global
  // dense position comes from the distributed prefix scan ordered by
  // (bucket, hash), per-bucket rank = pos − min(pos of bucket), with the
  // bucket-min join a broadcast (buckets are bounded by max_len/64, a
  // domain constant, not by data). Output: per batch, its size, max
  // length, and padding waste = n·max − Σlen.
  private val BatchSize = 8
  private def batchBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("n_chars"),
      expr("n_chars div 64").as("bucket"),
      md5(concat(lit("batch:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("one", lit(1L))
    val pos = graft.operators.PrefixSum.exclusive(d,
      Seq(col("bucket"), col("h"), col("doc_id")), "one", "pos", 0)
    val minPos = pos.groupBy(col("bucket").as("b2"))
      .agg(min(col("pos")).as("min_pos"))
    pos.join(broadcast(minPos), col("bucket") === col("b2"))
      .withColumn("rk", col("pos") - col("min_pos"))
      .withColumn("batch_idx", expr(s"rk div $BatchSize"))
      .groupBy("bucket", "batch_idx")
      .agg(count(lit(1)).as("n_items"), max(col("n_chars")).as("max_len"),
        (count(lit(1)) * max(col("n_chars")) - sum(col("n_chars")))
          .as("waste"))
      .orderBy("bucket", "batch_idx")
  }

  // -- exact-quota stratified split ----------------------------------------------
  // d_split assigns hash buckets — right RATES, binomially-random sizes.
  // Eval sets want EXACT sizes per stratum: within each lang, rank docs by
  // a salted hash (deterministic shuffle order) and cut at exact quotas —
  // val = first ⌊n/10⌋, test = next ⌊n/20⌋, train = rest. The per-stratum
  // rank is a window PARTITIONED by the stratum — the scale-safe window
  // shape (each language's rows sort within their own partitions; nothing
  // global). One shuffle on lang; quotas ride along from the count agg.
  private def splitExact(s: SparkSession, dir: String): DataFrame = {
    val ranked = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        md5(concat(lit("xsplit:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy("h", "doc_id")).cast("long"))
    val quotas = docs(s, dir).groupBy(col("lang").as("q_lang"))
      .agg(count(lit(1)).as("n"))
      .select(col("q_lang"), expr("n div 10").as("n_val"),
        expr("n div 20").as("n_test"))
    ranked.join(broadcast(quotas), col("lang") === col("q_lang"))
      .select(col("doc_id"), col("lang"),
        when(col("rk") <= col("n_val"), "val")
          .when(col("rk") <= col("n_val") + col("n_test"), "test")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  // -- preference-pair mining (RLHF / DPO assembly) -----------------------------
  // From a pool of candidate responses per prompt, build (chosen, rejected)
  // training pairs: here the prompt key is (source, lang) and the ranking
  // signal is n_chars (swap in any reward/quality score). ONE aggregation
  // computes both ends — chosen = max(struct(score, -id)), rejected =
  // min(struct(score, id)) — so at 100 TB the pair assembly is a single
  // hash-partial agg that shuffles one struct per group per side, never a
  // per-group sort or window. Zero-margin groups are dropped (a pair with
  // no preference signal teaches nothing and its ends could coincide).
  private def preferencePairs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_candidates"),
        max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("best"),
        min(struct(col("n_chars"), col("doc_id"))).as("worst"))
      .select(col("source"), col("lang"), col("n_candidates"),
        (-col("best.nid")).as("chosen_id"),
        col("worst.doc_id").as("rejected_id"),
        (col("best.n_chars") - col("worst.n_chars")).as("margin"))
      .filter(col("margin") > 0)
      .orderBy("source", "lang")

  // -- Bradley-Terry strengths from pairwise preferences ----------------------
  // The RLHF-data staple: given pairwise outcomes, fit a latent strength per
  // player with the Bradley-Terry MM update p_i ← w_i / Σ_j 1/(p_i + p_j).
  // Players are sources; a match exists per (lang, source pair sharing that
  // lang) and its winner is the source with more total chars there (ties to
  // the lexicographically smaller source) — a deterministic tournament
  // derived from the corpus itself. Scale shape: the tournament comes from
  // ONE corpus-linear (lang, source) aggregate; every MM iteration joins the
  // player-cardinality strength table (broadcast) onto the match sides and
  // re-aggregates by player — per-iteration cost is |matches|, never corpus-
  // sized, and the fixed iteration count keeps the plan static. Cross-engine
  // exactness: each match's contribution is floor-quantized to integer 1e-9
  // units and summed as BIGINT (order-free), so both engines walk identical
  // IEEE op sequences; strengths re-quantize to the 1e-9 grid per iteration.
  private val BtIters = 4

  private def bradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val totals = docs(s, dir).groupBy("lang", "source")
      .agg(sum(col("n_chars")).as("w"))
    val matches = totals.as("a").join(totals.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"),
        when(col("a.w") >= col("b.w"), col("a.source"))
          .otherwise(col("b.source")).as("winner"))
      .localCheckpoint() // tiny (pairs × langs); reused by every iteration
    val players = totals.select("source").distinct()
    val wins = matches.groupBy(col("winner").as("source"))
      .agg(count(lit(1)).as("wins"))
    val sides = matches.select(col("sa").as("source"), col("sb").as("opp"))
      .unionAll(matches.select(col("sb").as("source"), col("sa").as("opp")))
    val nMatches = sides.groupBy("source").agg(count(lit(1)).as("n_matches"))
    val base = players.join(wins, Seq("source"), "left")
      .join(nMatches, Seq("source"), "left")
      .select(col("source"), coalesce(col("wins"), lit(0L)).as("wins"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .localCheckpoint()
    var p = base.select(col("source"), lit(1.0).as("p"))
    for (_ <- 1 to BtIters) {
      val den = sides
        .join(p, Seq("source"))
        .join(p.select(col("source").as("opp"), col("p").as("p_opp")), Seq("opp"))
        .select(col("source"),
          floor(lit(1e9) / (col("p") + col("p_opp"))).cast("long").as("c"))
        .groupBy("source").agg(sum(col("c")).as("den"))
      p = base.join(p, Seq("source")).join(den, Seq("source"), "left")
        .select(col("source"),
          when(col("den").isNull, col("p")).otherwise(
            floor(greatest(col("wins").cast("double") * lit(1e9) /
              col("den").cast("double"), lit(1e-6)) * lit(1e9) + lit(0.5))
              / lit(1e9)).as("p"))
        // the strength table is player-cardinality: checkpointing each
        // iteration keeps the next plan shallow instead of 4× self-joined
        .localCheckpoint()
    }
    base.join(p, Seq("source"))
      .select(col("source"), col("wins"), col("n_matches"),
        (floor(col("p") * lit(1e6) + lit(0.5)) / lit(1e6)).as("strength_r"))
      .orderBy("source")
  }

  // -- PII detection / redaction ----------------------------------------------
  // Multi-pattern scan-and-mask for corpus scrubbing: emails, phone numbers,
  // IPv4 addresses, then bare digit runs, redacted IN THAT ORDER (each stage
  // counts matches on the PREVIOUS stage's output, so a phone number is never
  // double-counted as a digit run). Pure codegen'd regexp_extract_all /
  // regexp_replace over one narrow column — a scan with zero shuffles; at
  // 100 TB the cost is regex throughput per byte, embarrassingly parallel.
  // Patterns avoid \d/\b so Java regex (Spark) and RE2 (DuckDB) agree.
  private[queries] val PiiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  private[queries] val PiiPhoneRe = "[0-9]{2,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private[queries] val PiiIpRe    = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
  private[queries] val PiiIdRe    = "[0-9]{4,}"

  /** Generic PII scrub of `df.textCol`, keyed by `idCol`: per-kind match
    * counts plus the fully redacted text. */
  private[graft] def piiScrub(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val stages = Seq(
      ("n_email", PiiEmailRe, "[EMAIL]"),
      ("n_phone", PiiPhoneRe, "[PHONE]"),
      ("n_ip",    PiiIpRe,    "[IP]"),
      ("n_idnum", PiiIdRe,    "[ID]"))
    val scrubbed = stages.foldLeft(df.withColumn("redacted", col(textCol))) {
      case (d, (cnt, re, mask)) => d
        .withColumn(cnt,
          size(regexp_extract_all(col("redacted"), lit(re), lit(0))).cast("long"))
        .withColumn("redacted",
          regexp_replace(col("redacted"), re, java.util.regex.Matcher.quoteReplacement(mask)))
    }
    scrubbed.select((idCol +: stages.map(_._1) :+ "redacted").map(col): _*)
      .orderBy(idCol)
  }

  private def piiScrubCustomer(s: SparkSession, dir: String): DataFrame =
    piiScrub(t(s, dir, "customer"), "c_custkey", "c_name")

  // -- unicode canonicalization -------------------------------------------------
  // Web corpus text arrives in mixed Unicode forms: "é" as one composed
  // code point or as "e"+U+0301 — byte-distinct, canonically equal, so
  // un-normalized text silently defeats exact dedup, fingerprinting, and
  // token matching. `text_norm` (functions/NormalizeExpression) is the
  // codegen'd NFC/NFKC/strip-accents canonicalizer with an all-ASCII
  // fast path (one byte scan, zero allocation — the 100 TB hot case).
  // The synthetic corpus is pure ASCII, so the gate INJECTS the decomposed
  // form deterministically (literal replace on both engines) and proves:
  // bytes differ before normalization, md5s agree after, and the NFC text
  // equals the directly-composed injection.
  private def normalizeNfc(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    docs(s, dir)
      .withColumn("raw", expr(
        "CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'é') ELSE text END"))
      .withColumn("composed", expr(
        "CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'é') ELSE text END"))
      .withColumn("nfc", expr("text_norm(raw, 'NFC')"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        length(col("nfc")).cast("long").as("n_nfc"),
        md5(col("raw")).as("md5_raw"),
        md5(col("nfc")).as("md5_nfc"),
        (md5(col("nfc")) === md5(col("composed"))).as("canonical_ok"))
      .orderBy("doc_id")
  }

  // Accent folding (search/dedup canonicalization): NFD → drop combining
  // marks → NFC, DuckDB-`strip_accents` parity. Inject COMPOSED accents
  // (the opposite form from d_normalize, so both decomposition paths are
  // exercised) and prove folding restores the original ASCII text.
  private def foldAccents(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    docs(s, dir)
      .withColumn("accented", expr(
        "CASE WHEN doc_id % 2 = 0 THEN replace(replace(text, 'a', 'á'), 'o', 'ö') " +
          "WHEN doc_id % 5 = 1 THEN replace(text, 'e', 'é') ELSE text END"))
      .withColumn("folded", expr("text_norm(accented, 'STRIP_ACCENTS')"))
      .select(col("doc_id"),
        md5(col("accented")).as("md5_accented"),
        md5(col("folded")).as("md5_folded"),
        (md5(col("folded")) === md5(col("text"))).as("restored"))
      .orderBy("doc_id")
  }

  // -- rolling-hash document fingerprint ---------------------------------------
  // Rabin–Karp polynomial rolling hash (base 131, mod 2^31−1 so every
  // intermediate stays < 2^39 — overflow-free BIGINT on both engines):
  // one whole-document hash plus a winnowing-style signature (the minimum
  // over all 8-char window hashes). Codegen'd HOFs over char positions, no
  // UDF; embarrassingly parallel per row, so the 100 TB path is just a scan.
  private val RollMod = 2147483647L // 2^31 − 1
  private val RollBase = 131L

  /** Evaluate `inner` ONCE per row and bind it as lambda variable `v`
    * inside `body`. A plain `withColumn` is NOT enough: CollapseProject
    * inlines the named expression into every lambda that references it,
    * and an outer-expression reference inside a higher-order function is
    * re-evaluated PER ELEMENT (measured 33 s → 210 s when the char-codes
    * array was a withColumn). A 1-element transform makes it a
    * lambda-variable binding, which nothing inlines through.
    */
  private def bind1(inner: String, v: String, body: String): String =
    s"element_at(transform(array($inner), $v -> $body), 1)"

  private def fingerprintRolling(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.RollingHashFunctions
          .rollHash(col("text"), RollBase, RollMod).as("roll_hash"),
        graft.functions.RollingHashFunctions
          .rollMinWindow(col("text"), RollBase, RollMod).as("min_window_hash"))
      .orderBy("doc_id")

  // -- token counting: whitespace vs BPE-ish subword regex ---------------------
  // Three tokenizer proxies per doc: whitespace split, the alnum word regex,
  // and a BPE-ish segmentation (letter runs, single digits, punctuation
  // marks — the shape of GPT-style pre-tokenizers) with a chars-per-token
  // ratio, the usual "how many tokens is this corpus" estimator.
  private val BpeIshRe = "[a-z]+|[0-9]|[^a-z0-9\\s]"

  private def bpeTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("n_ws", size(split(col("text"), " +")).cast("long"))
      .withColumn("n_words", size(tokensExpr).cast("long"))
      // regex via the Column API: a `\s` inside expr()'s SQL literal would
      // lose its backslash to the parser's escape handling
      .withColumn("n_bpe",
        size(regexp_extract_all(lower(col("text")), lit(BpeIshRe), lit(0))).cast("long"))
      .withColumn("chars_per_bpe",
        when(col("n_bpe") > 0,
          length(col("text")).cast("double") / col("n_bpe").cast("double")))
      .select(col("doc_id"), col("n_ws"), col("n_words"), col("n_bpe"),
        col("chars_per_bpe"))
      .orderBy("doc_id")

  // -- chunking: fixed-size token windows with overlap -------------------------
  // The RAG/context-window prep step: each doc becomes ceil(n/stride) chunks
  // of up to `ChunkTokens` word tokens, consecutive chunks overlapping by
  // ChunkTokens - ChunkStride. One posexplode per doc — rows, not arrays,
  // leave the operator, so a 100 TB corpus chunks in one narrow pass with no
  // shuffle at all (the ORDER BY here is gate-determinism only).
  private val ChunkTokens = 50
  private val ChunkStride = 40

  /** Chunk rows of (doc_id, toks): one output row per token window. */
  private def chunksOf(d: DataFrame): DataFrame =
    d.withColumn("n", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("toks"),
        posexplode(expr(
          s"transform(sequence(0, cast(greatest(n - 1, 0) DIV $ChunkStride as int)), " +
            s"i -> i * $ChunkStride)")).as(Seq("chunk_idx", "start")))
      .withColumn("chunk", expr(s"slice(toks, start + 1, $ChunkTokens)"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))

  private def chunkDocs(s: SparkSession, dir: String): DataFrame =
    chunksOf(docs(s, dir).withColumn("toks", tokensExpr))
      .orderBy("doc_id", "chunk_idx")

  // -- the composed corpus-prep pipeline ---------------------------------------
  // What a training-data run actually executes, as ONE dataflow: language
  // gate (marker argmax == en) → quality gate (bucket ok) → exact dedup
  // (min doc_id per md5(text)) → chunking. Narrow ops fuse into one scan
  // stage; the only shuffle is the dedup groupBy — at 100 TB this plan is a
  // scan + one exchange, which is the point of composing in one DataFrame
  // instead of materializing each stage.
  private def corpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("toks", tokensExpr)
    val withCounts = langMarkers.foldLeft(d) { case (df, (lang, markers)) =>
      val arr = array(markers.map(lit): _*)
      df.withColumn(s"n_$lang",
        size(filter(col("toks"), t => array_contains(arr, t))).cast("long"))
    }
    val en = withCounts.filter(col("n_en") >= col("n_de") &&
      col("n_en") >= col("n_fr") && col("n_en") >= col("n_es"))
    val stopArr = array(stopwords.map(lit): _*)
    val qual = en
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => array_contains(stopArr, t))).cast("long"))
      .withColumn("n_punct",
        (length(col("text")) - length(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""))).cast("long"))
      // stricter than the diagnostic d_quality buckets, so the gate prunes
      // real rows at every SF (sf0.01 corpus: all docs pass the loose cuts)
      .filter(col("n_tokens") >= 25 &&
        col("n_stop") * 5 < col("n_tokens") &&
        col("n_punct") * 5 < col("n_tokens"))
    val survivors = qual.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    chunksOf(qual.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi"))
      .orderBy("doc_id", "chunk_idx")
  }

  // -- content-defined chunking (CDC) ------------------------------------------
  // Boundaries where the 8-char rolling hash ≡ 0 (mod 64) instead of fixed
  // offsets: inserting or deleting text only moves boundaries NEAR the edit,
  // so unchanged regions keep identical chunk hashes — which is what makes
  // chunk-level dedup across crawl snapshots work. Expected chunk ≈ 64
  // chars, bounded by FastCDC-style guards: candidate cuts closer than
  // CdcMinLen to the last boundary are suppressed, and any gap over
  // CdcMaxLen is closed by forced cuts every CdcMaxLen chars — a
  // pathological boundary-free input (one repeated character never hits
  // the mask) now yields maxLen-bounded chunks instead of one giant one.
  // Same Rabin–Karp family as d_fingerprint_roll; narrow per-row HOFs, no
  // shuffle. The guard fold here and the oracle's recursive CTE are two
  // independent spellings of the same sequential rule.
  private val CdcMask = 64L
  private val CdcMinLen = 32
  private val CdcMaxLen = 128

  private def chunkCdc(s: SparkSession, dir: String): DataFrame = {
    // left fold over ascending candidates: `element_at(acc, -1)` is the
    // last boundary BEFORE this step, so the forced-cut count nf and the
    // acceptance test (gap from last+nf*CdcMaxLen at least CdcMinLen)
    // both read consistent state within one lambda evaluation
    val starts0Sql = bind1("cands", "cv",
      s"""aggregate(cv, array(1), (acc, c) -> concat(acc,
         |  if(c - element_at(acc, -1) - 1 >= $CdcMaxLen,
         |    transform(sequence(1, cast((c - element_at(acc, -1) - 1) div $CdcMaxLen as int)),
         |      f -> element_at(acc, -1) + f * $CdcMaxLen),
         |    array()),
         |  if(c - (element_at(acc, -1) + cast((c - element_at(acc, -1) - 1) div $CdcMaxLen as int) * $CdcMaxLen) >= $CdcMinLen,
         |    array(c), array())))""".stripMargin.replace("\n", " "))
    // trailing forced cuts: the final chunk may not exceed CdcMaxLen either
    val startsSql = bind1(starts0Sql, "s0",
      s"""concat(s0,
         |  if(length(text) - element_at(s0, -1) >= $CdcMaxLen,
         |    transform(sequence(1, cast((length(text) - element_at(s0, -1)) div $CdcMaxLen as int)),
         |      f -> element_at(s0, -1) + f * $CdcMaxLen),
         |    array()))""".stripMargin.replace("\n", " "))
    // candidate scan = the codegen'd roll_candidates expression; the fold
    // chain above it is nested bind1 stages so cands/starts each evaluate
    // once per row — in particular `element_at(st, j + 2)` below would
    // otherwise re-evaluate the full chain once PER CHUNK
    docs(s, dir)
      .withColumn("cands", graft.functions.RollingHashFunctions
        .rollCandidates(col("text"), RollBase, RollMod, CdcMask))
      .select(col("doc_id"), col("text"),
        posexplode(expr(bind1(startsSql, "st",
          "transform(st, (s, j) -> struct(s AS s, " +
            "if(j = size(st) - 1, length(text), element_at(st, j + 2) - 1) AS e))")))
          .as(Seq("chunk_idx", "se")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("se.s").cast("long").as("start_pos"),
        (col("se.e") - col("se.s") + 1).cast("long").as("n_chars"),
        md5(expr("substring(text, se.s, se.e - se.s + 1)")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  // -- multimodal plumbing: opaque binary payload + typed metadata ------------
  // The decode itself is stubbed (no codec libs in-container); the Spark-side
  // schema/partitioning/hashing over `binary` is real — see
  // operators/Multimodal.scala for the mapPartitions feature-extract path.
  private def binaryMeta(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        base64(substring(col("text"), 1, 16).cast("binary")).as("head_b64"))
      .orderBy("doc_id")

  // -- corpus mixing: per-language sampling to a target blend ------------------
  // Training mixes are defined as per-stratum rates (downsample the dominant
  // web-English pile, keep the scarce languages whole). Like
  // q_stratified_sample this is a pure per-row hash decision: no shuffle, no
  // RNG state, reproducible under retries/re-partitioning — at 100 TB the
  // mix is one narrow filtered scan, and changing the recipe is a
  // broadcast-map change, not a new pass over the corpus.
  private def mixWeighted(s: SparkSession, dir: String): DataFrame = {
    val rates = map(
      lit("en"), lit(25L), lit("zh"), lit(60L),
      lit("de"), lit(80L), lit("fr"), lit(80L), lit("es"), lit(80L))
    docs(s, dir)
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"))
      .withColumn("rate", coalesce(element_at(rates, col("lang")), lit(100L)))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .orderBy("doc_id")
  }

  // -- temperature-scaled language rebalancing ---------------------------------
  // The mC4/XLM-R style mix: keep-rate per language ∝ (n_lang / n_max)^α,
  // boosting scarce languages relative to the dominant pile. α = 0.5 is
  // spelled as sqrt — an IEEE exactly-rounded op on both engines (a general
  // pow() is not), so the derived rates are bit-identical cross-engine. Two
  // phases: a language-cardinality aggregate (rows = #languages, broadcast
  // back), then the same pure per-row hash filter as d_mix_weighted — the
  // recipe is DERIVED from the corpus instead of hand-written, but the
  // corpus pass is still one narrow filtered scan with no shuffle.
  private def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val counts = docs(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val nmax = counts.agg(max(col("nl")).as("nmax"))
    val rates = counts.crossJoin(broadcast(nmax))
      .select(col("lang").as("r_lang"),
        floor(lit(10000.0) *
          sqrt(col("nl").cast("double") / col("nmax").cast("double")))
          .cast("long").as("rate"))
    docs(s, dir)
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 10000"))
      .join(broadcast(rates), col("lang") === col("r_lang"))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("rate"))
      .orderBy("doc_id")
  }

  // -- class-balanced deterministic sampling (k docs per language) -------------
  // A balanced evaluation/calibration subset: exactly k = 50 docs per
  // language, chosen by a salted md5 order so the pick is uniform,
  // reproducible, and independent of the mix queries' hash buckets. Runs
  // through the custom TopKPerKeyExec — one hash shuffle on lang, then a
  // bounded per-key heap (memory k × #languages) instead of Window's full
  // per-language sort; at 100 TB the heap never holds more than k rows per
  // class regardless of how skewed the language distribution is.
  private def samplePerClass(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("lang"), col("doc_id"),
        md5(concat(lit("cls:"), col("doc_id").cast("string"))).as("h"))
    graft.operators.TopK.perKey(d,
        Seq(col("lang")), Seq(col("h").asc, col("doc_id").asc), 50)
      .select(col("lang"), col("rk"), col("doc_id"), col("h"))
      .orderBy("lang", "rk")
  }

  // -- KMV distinct-count sketch (per-source vocabulary size) ------------------
  // The mergeable k-minimum-values sketch: hash every distinct token into a
  // 60-bit space (15 md5 hex chars — DETERMINISTIC, unlike engine-native
  // hash functions), keep the k = 256 smallest per source, and estimate
  // |distinct| = (k-1) / F(h_k) with F(h) = h / 2^60. The k smallest ride
  // the custom TopKPerKeyExec — bounded heap state, so a source with a
  // billion distinct tokens costs the same memory as one with a thousand.
  // The exact count rides along to audit the sketch's relative error; at
  // 100 TB you would DROP the exact branch (that is the point of the
  // sketch) — it is here because the driver gate compares exact values.
  // All estimate arithmetic is exactly-rounded IEEE (255·2^60 is exact in
  // double, one division), so the estimates are bit-identical cross-engine.
  private val KmvK = 256

  private def distinctKmv(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("source"), explode(tokensExpr).as("tok"))
      .distinct()
      .withColumn("h", graft.functions.Md5BitsFunctions.md5Bits60(col("tok")))
    val exact = toks.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val kth = graft.operators.TopK.perKey(
        toks.select(col("source").as("ksrc"), col("h")),
        Seq(col("ksrc")), Seq(col("h").asc), KmvK)
      .filter(col("rk") === KmvK)
      .select(col("ksrc"), col("h").as("hk"))
    exact.join(broadcast(kth), col("source") === col("ksrc"), "left_outer")
      .select(col("source"), col("n_exact"),
        when(col("hk").isNull, col("n_exact").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) *
            lit(1152921504606846976L).cast("double") / col("hk").cast("double"))
          .as("est_distinct"))
      .orderBy("source")
  }

  // -- KMV set-operation estimation (source-overlap audit) ------------------------
  // "How much do two crawls overlap?" — answered from two bottom-k
  // sketches WITHOUT comparing the sets: bottom-k sketches are mergeable
  // under union (bottom-k of the union of two saturated sketches = the
  // union's sketch), the k-th smallest hash estimates |A∪B| exactly like
  // d_distinct_kmv, and the fraction ρ of the merged sketch's members
  // present in BOTH input sketches estimates Jaccard, giving
  // |A∩B| ≈ ρ·est(|A∪B|). Exact values ride along so the gate
  // value-checks estimator and truth side by side. Everything after the
  // distinct-token aggregate moves ≤ k rows per side.
  private def distinctOverlap(s: SparkSession, dir: String): DataFrame = {
    // 5-char shingles, not word tokens: the synthetic vocabulary is ~31
    // words, far below k — shingles (~1.9k per language) saturate the
    // sketches so the estimator actually estimates
    val toks = docs(s, dir)
      .filter(col("lang").isin("en", "de"))
      .select(col("lang").as("source"), explode(shingleExpr).as("tok"))
      .distinct()
      .withColumn("h", graft.functions.Md5BitsFunctions.md5Bits60(col("tok")))
      .persist()
    // eager fill: five of the six consumers below are EXPLICIT broadcast()
    // sides whose exchange builds run as their own jobs — unfilled, each
    // would re-run the shingle explode+distinct from parquet (§3, the r12
    // broadcast-bypass pattern)
    toks.count()
    val sk = graft.operators.TopK.perKey(toks.select(col("source"), col("h")),
      Seq(col("source")), Seq(col("h").asc), KmvK)
    val a = sk.filter(col("source") === "en").select(col("h").as("ha"))
    val b = sk.filter(col("source") === "de").select(col("h").as("hb"))
    val merged = graft.operators.TopK.global(
      a.select(col("ha").as("h")).union(b.select(col("hb").as("h"))).distinct(),
      Seq(col("h").asc), KmvK)
    val hk = merged.filter(col("rk") === KmvK).select(col("h").as("hk"))
    val nBoth = merged.join(broadcast(a), col("h") === col("ha"), "left_semi")
      .join(broadcast(b), col("h") === col("hb"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    val exactA = toks.filter(col("source") === "en")
      .agg(count(lit(1)).as("exact_a"))
    val exactB = toks.filter(col("source") === "de")
      .agg(count(lit(1)).as("exact_b"))
    val exactU = toks.select("tok").distinct()
      .agg(count(lit(1)).as("exact_union"))
    val exactI = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .filter(col("c") === 2).agg(count(lit(1)).as("exact_inter"))
    val estU = lit((KmvK - 1).toDouble) *
      lit(1152921504606846976L).cast("double") / col("hk").cast("double")
    val rho = col("n_both").cast("double") / lit(KmvK.toDouble)
    exactA.crossJoin(broadcast(exactB)).crossJoin(broadcast(exactU))
      .crossJoin(broadcast(exactI)).crossJoin(broadcast(hk))
      .crossJoin(broadcast(nBoth))
      .select(col("exact_a"), col("exact_b"), col("exact_union"),
        col("exact_inter"), col("n_both"),
        round(estU, 6).as("est_union_r"),
        round(rho, 6).as("jaccard_est_r"),
        round(rho * estU, 6).as("est_inter_r"))
  }

  // -- sparse lexical cosine via inverted index --------------------------------
  // Pairwise cosine over token-frequency vectors WITHOUT densifying: the
  // classic sparse similarity join. Candidates come from a df-capped
  // inverted index (id-only shuffle); the exact numerator Σ tf_a·tf_b is
  // then a pair×token equi join over the candidates only — never the n²
  // pair space, never a dense vector. All counts are BIGINT, the norms are
  // one sqrt each and the cosine one division, so the scores are
  // bit-identical cross-engine. Complements s_cosine_topk (dense
  // embeddings): this is the lexical half of a hybrid retrieval stack.
  // Parameterization caveat the stress probe surfaces: the ABSOLUTE df
  // cap must scale with the corpus — at 10× corpus size every token's df
  // grows ~10×, the fixed cap swallows all shared tokens and candidate
  // generation goes dark (0 pairs). Production uses a df FRACTION
  // (df/n_docs ≤ ε) or idf floor; the gate keeps the absolute cap because
  // the oracle mirrors it exactly.
  /** Shared body of the two sparse-cosine variants — only the stop-token
    * rule differs. `tf` is persisted: it feeds five consumers (norms, the
    * df filter, the postings, both numerator sides); uncached each would
    * re-run the explode + aggregation shuffle.
    */
  private def sparseCosineWith(tfIn: DataFrame)
      (rareOf: DataFrame => DataFrame): DataFrame = {
    val tf = tfIn.persist()
    // eager fill: the norms/stats sides broadcast into the candidate join
    // under AQE, and an unfilled tf would make those builds re-run the
    // tokenize+aggregate from parquet (§3 broadcast-bypass)
    tf.count()
    val norms = tf.groupBy("doc_id")
      .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("norm"))
    val rare = rareOf(tf.groupBy("tok").agg(count(lit(1)).as("df")))
    val capped = tf.join(rare, Seq("tok"), "left_semi")
    val cand = capped.select(col("tok"), col("doc_id").as("a_id"))
      .join(capped.select(col("tok"), col("doc_id").as("b_id")), Seq("tok"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val num = cand
      .join(tf.select(col("doc_id").as("a_id"), col("tok"), col("tf").as("tf_a")),
        Seq("a_id"))
      .join(tf.select(col("doc_id").as("b_id"), col("tok"), col("tf").as("tf_b")),
        Seq("b_id", "tok"))
      .groupBy("a_id", "b_id")
      .agg(sum(col("tf_a") * col("tf_b")).as("dot"))
    num
      .join(norms.select(col("doc_id").as("a_id"), col("norm").as("norm_a")), Seq("a_id"))
      .join(norms.select(col("doc_id").as("b_id"), col("norm").as("norm_b")), Seq("b_id"))
      .withColumn("cosine",
        col("dot").cast("double") / (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= 0.8)
      .select(col("a_id"), col("b_id"), col("dot"), col("cosine"))
      .orderBy("a_id", "b_id")
  }

  private def docTf(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(tokensExpr).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  private def sparseCosine(s: SparkSession, dir: String): DataFrame =
    sparseCosineWith(docTf(s, dir))(
      _.filter(col("df") <= NgramDfCap).select("tok"))

  // -- sparse cosine, fraction-capped (the stress-safe parameterization) ------
  // Same operator as d_sparse_cosine but the posting cap is RELATIVE:
  // tokens in more than 20% of documents are stop-tokens for candidate
  // generation (exact 5·df ≤ n_docs integer comparison — no float
  // boundary). A 10× corpus grows every df 10× AND the threshold 10×, so
  // candidate generation keeps working at any scale — this is the fix for
  // the absolute-cap saturation the clone-corpus stress probe surfaced.
  private def sparseCosineFrac(s: SparkSession, dir: String): DataFrame = {
    val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    sparseCosineWith(docTf(s, dir))(
      _.crossJoin(broadcast(nDocs))
        .filter(col("df") * 5 <= col("n_docs")).select("tok"))
  }

  // -- collocation mining: adjacent-bigram lift --------------------------------
  // PMI-style collocations without the log (log is not exactly-rounded
  // IEEE; the RATIO is): lift(a,b) = c_ab · N / (c_a · c_b) over adjacent
  // token pairs. Two aggregates whose cardinality is the vocabulary; the
  // unigram counts broadcast back onto the bigram table at fleet scale.
  // The bigram extraction guards size<2 explicitly — Spark's sequence(1,0)
  // counts DOWN ([1,0]) where DuckDB's generate_series(1,0) is empty, a
  // cross-engine trap worth pinning here.
  private def collocations(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), tokensExpr.as("toks"))
      .withColumn("bigrams", expr(
        "case when size(toks) < 2 then array() else " +
          "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) end"))
    val uni = d.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val total = uni.agg(sum(col("c1")).as("n_total"))
    val bi = d.select(explode(col("bigrams")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    bi
      .withColumn("tok_a", expr("split_part(bigram, ' ', 1)"))
      .withColumn("tok_b", expr("split_part(bigram, ' ', 2)"))
      .join(uni.select(col("tok").as("tok_a"), col("c1").as("c_a")), Seq("tok_a"))
      .join(uni.select(col("tok").as("tok_b"), col("c1").as("c_b")), Seq("tok_b"))
      .crossJoin(broadcast(total))
      .withColumn("lift",
        (col("c_ab") * col("n_total")).cast("double") /
          (col("c_a") * col("c_b")).cast("double"))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"), col("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(100)
  }

  // -- KMV sketch via the custom mergeable Aggregator ---------------------------
  // Identical semantics (and oracle) to d_distinct_kmv, but as ONE
  // aggregate function instead of a TopK ranking: the
  // functions.KmvSketchAggregator buffer holds ≤ k sorted longs, map-side
  // partials bound every task at k values, and the exchange carries ≤ k
  // longs per group — the aggregate-function spelling a SQL user composes
  // freely with other aggregates in the same groupBy.
  private def distinctKmvAgg(s: SparkSession, dir: String): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketchAggregator(KmvK))
    val toks = docs(s, dir)
      .select(col("source"), explode(tokensExpr).as("tok"))
      .distinct()
      .withColumn("h", graft.functions.Md5BitsFunctions.md5Bits60(col("tok")))
    toks.groupBy("source").agg(kmv(col("h")).as("r"))
      .select(col("source"), col("r.n_exact").as("n_exact"),
        when(col("r.hk") === Long.MinValue, col("r.n_exact").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) *
            lit(1152921504606846976L).cast("double") / col("r.hk").cast("double"))
          .as("est_distinct"))
      .orderBy("source")
  }

  // -- prefix-filtered set-similarity join (AllPairs/PPJoin prefix scheme) ----
  // The LOSSLESS upgrade of d_dedup_ngram's df-cap: order every document's
  // shingles by a global rare-first total order (df asc, shingle asc) and
  // index only the first |x| − ⌈t·|x|⌉ + 1 of them. Prefix-filter lemma
  // (Bayardo et al., AllPairs; Xiao et al., PPJoin): J(A,B) ≥ t implies
  // c = |A∩B| ≥ ⌈t·|A|⌉ and ⌈t·|B|⌉, so if the two prefixes were
  // disjoint, the order-smallest common element would sit in one side's
  // suffix — and then ALL c common elements sit in that ⌈t·|x|⌉−1-sized
  // suffix: fewer than c slots. Candidates therefore NEVER miss a true
  // pair (the df-cap could, when a pair's entire overlap is
  // stop-shingles), yet only ~(1−t) of the postings are indexed and they
  // concentrate on rare shingles — small join buckets by construction.
  // t = 0.7, the MinHash family's threshold (at t the prefix is ~30% of
  // postings; the t=0.5 variant measured 3× the capped path's time at
  // sf0.01 — prefix filtering earns its keep at high thresholds).
  // POSITIONAL filter upgrade (PPJoin, Xiao et al.): each prefix posting
  // carries its rare-first rank rk and the doc's set size; per candidate
  // pair the EXACT overlap bound is
  //     c ≤ c_pfx + min(|A| − p_A, |B| − p_B)
  // where p = the max rank among shared-prefix hits. (Every common
  // element SMALLER in the global order than the last shared hit sits at
  // a smaller rank in both docs, hence inside both prefixes, hence is
  // already counted in c_pfx; every common element LARGER sits after rank
  // p on both sides, so at most min of the two tail sizes exist.) J ≥ 0.7
  // needs 17c ≥ 7(|A|+|B|), so pairs whose bound fails can never verify —
  // an integer-exact, size-free, LOSSLESS prune. This is what makes the
  // prefix path win on power-law vocabulary: spurious pairs share a few
  // mid-band shingles (late prefix ranks → small tail bound → pruned),
  // and on a Zipfian 8k-doc corpus it cuts the array-verify join from
  // 4.0M candidates (85% of wall time) to ~the true pairs.
  // Gate: the oracle is the UNCAPPED exact all-pairs truth, so any lost
  // pair fails the round; ZipfCorpusSpec pins losslessness on power-law
  // vocabulary too.
  private def dedupNgramPrefix(s: SparkSession, dir: String): DataFrame =
    prefixJoinBody(docs(s, dir))

  // -- the same lossless PPJoin, gated on POWER-LAW document frequencies ------
  // The sf* corpus has ~31 words/lang, so the d_dedup_ngram_prefix row only
  // ever measures the all-stop-shingles corner. This row runs the identical
  // body over the fixed-path ZipfGateFixture corpus (5k docs, 20k-word
  // Zipfian vocabulary, planted near/exact dups), whose oracle mirrors the
  // prefix + positional + length filters in DuckDB over the SAME parquet —
  // the hard gate finally sees realistic df skew (r8 verdict, missing #2).
  // Losslessness against uncapped truth is pinned separately by
  // ZipfCorpusSpec; this row pins cross-engine exactness of every filter.
  /** Verified zipf pairs as a once-per-JVM artifact: the PPJoin over the
    * fixture is pure in the fixture dir, and TWO gate rows consume it
    * (the set-sim row and the power-law ROUGE row) — without the cache
    * each re-paid the full candidate join. */
  private def zipfPairs(s: SparkSession): DataFrame = {
    // force fixture generation BEFORE the cache key is computed: if a
    // rouge-zipf row is the first fixture consumer, the fingerprint would
    // otherwise hash a nonexistent documents.parquet (fp=0) and the next
    // call would re-key on the real files and re-pay the PPJoin (r9 advice)
    val zdocs = graft.sources.ZipfGateFixture.docs(s)
    val path = FixtureArtifacts.cached("zipf-pairs",
        graft.sources.ZipfGateFixture.dir) { p =>
      prefixJoinBody(zdocs).coalesce(1).write.parquet(p)
    }
    s.read.parquet(path)
  }

  // deliberately NOT read from the zipfPairs artifact: this row is the
  // frequency-sensitive PERF trend line (BENCH), so it must pay the real
  // PPJoin every run — the prime pass would otherwise turn the bench
  // entry into a 911-row cache read. d_rouge_zipf (gate-only) shares the
  // artifact instead.
  private def dedupPrefixZipf(s: SparkSession, dir: String): DataFrame =
    prefixJoinBody(graft.sources.ZipfGateFixture.docs(s))

  // r12 optimization (guide §2.3 "narrower types / shuffle fewer bytes"):
  // every stage after the df count used to carry the 5-char shingle STRING
  // — the self-join key, the window rows, and above all the verify, which
  // shuffled ~0.5 GB of array<string> payloads per corpus and spent ~80 s
  // of executor CPU per join side deserializing + string-intersecting
  // them. The shingles are replaced by a LOSSLESS dense dictionary id:
  // `dict` range-sorts the distinct shingles by (df, s) and assigns
  // monotonically_increasing_id, whose global order equals the rare-first
  // (df, s) order — so per-doc ranks, prefixes, candidates, and therefore
  // the verified output are IDENTICAL (bijection; collect-compared equal
  // on both gate corpora), while every downstream exchange and the exact
  // set-intersect run on longs (~2-3× fewer bytes, primitive equality).
  // Even if the range sampler ever placed a boundary differently, ANY
  // strict total order satisfies the prefix-filter lemma, so the verified
  // output would still be identical — only the candidate count may move.
  private def prefixJoinBody(docs0: DataFrame): DataFrame = {
    // repartition before shingling: the gate fixtures read as ≤4 input
    // splits, which pinned the ~4.4 ms/doc shingling (and every cache
    // consumer) to 4 of 32 cores — measured 16.7 s → ~10.5 s on the zipf
    // row from this line alone (guide §2.5 input skew)
    val cores = docs0.sparkSession.sparkContext.defaultParallelism
    val d = docs0.repartition(cores)
      .select(col("doc_id"), shingleExpr.as("ss")).persist()
    // fill the cache EAGERLY: broadcast-exchange builds run as their own
    // jobs and do not see through an unfilled InMemoryRelation — without
    // this count, the dict/stats broadcast sides re-shingled the whole
    // corpus from parquet (measured 2×~57 s of duplicate executor CPU)
    d.count()
    val inv = d.select(col("doc_id"), explode(col("ss")).as("s"))
    val dfs = inv.groupBy("s").agg(count(lit(1)).as("df"))
    // the lossless dictionary: sid ascending ⇔ (df, s) ascending
    val dict = dfs.repartitionByRange(cores, col("df"), col("s"))
      .sortWithinPartitions("df", "s")
      .select(col("s"), monotonically_increasing_id().as("sid"))
    // r13: per-doc SORTED sid arrays replace the 4.1M-posting row_number
    // window (guide §2.4 remove shuffles outright). ONE groupBy(doc_id)
    // aggregation now yields BOTH the verify sets and the rare-first
    // prefixes: sid ascending ⇔ (df, s) ascending (the dictionary's
    // order-preserving construction above), and a doc's sids are distinct,
    // so a sid's position in the doc's sorted array IS row_number() OVER
    // (PARTITION BY doc_id ORDER BY sid) — provably identical ranks,
    // prefixes, candidates, output. This removes the window's
    // exchange+sort, the (doc_id) stats join, and the verify's separate
    // collect_list aggregation (it shares `sets` below).
    val sets = inv.join(dict, Seq("s"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("sid"))).as("hs"))
      .withColumn("nss", size(col("hs")).cast("long"))
      .persist()
    sets.count() // same eager-fill reasoning as d above
    // rare-first rank within each doc; keep rk ≤ |x| − ⌈0.7|x|⌉ + 2
    // (ℓ-prefix with ℓ = 2: one extra posting per doc lets the positional
    // bound see a second hit, tightening p for the near-miss band).
    // Derived from the `sets` cache per consumer — a slice+posexplode of
    // cached arrays, cheaper than its own cache fill.
    val prefix = sets
      .select(col("doc_id"), col("nss"), posexplode(expr(
        "slice(hs, 1, cast(nss - (7 * nss + 9) DIV 10 + 2 as int))"))
        .as(Seq("p", "sid")))
      .select(col("doc_id"), col("sid"),
        (col("p") + 1).cast("long").as("rk"), col("nss"))
    val survivors = prefix
      .select(col("doc_id").as("a_id"), col("sid"),
        col("rk").as("a_rk"), col("nss").as("a_nss"))
      .join(prefix.select(col("doc_id").as("b_id"), col("sid"),
        col("rk").as("b_rk"), col("nss").as("b_nss")), Seq("sid"))
      .filter(col("a_id") < col("b_id"))
      // length filter (AllPairs): J ≥ 0.7 forces c ≥ 0.7·max(|A|,|B|) and
      // c ≤ min(|A|,|B|), so 10·min ≥ 7·max — applied per HIT, before the
      // pair aggregation's shuffle ever sees the row (integer-exact)
      .filter(lit(10L) * least(col("a_nss"), col("b_nss")) >=
        lit(7L) * greatest(col("a_nss"), col("b_nss")))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("c_pfx"),
        max(col("a_rk")).as("a_p"), max(col("b_rk")).as("b_p"),
        max(col("a_nss")).as("a_nss"), max(col("b_nss")).as("b_nss"))
      .filter(lit(17L) * (col("c_pfx") +
        least(col("a_nss") - col("a_p"), col("b_nss") - col("b_p"))) >=
        lit(7L) * (col("a_nss") + col("b_nss")))
      .select("a_id", "b_id")
    // exact verify on the dictionary ids: |A∩B| and |A∪B| are invariant
    // under the bijection (and under the arrays now being sorted), so
    // n_common/n_union/jaccard are the strings' exact values — but the
    // arrays that reach the join are array<long>, read from the `sets`
    // cache the prefix derivation already filled
    survivors
      .join(sets.select(col("doc_id").as("a_id"), col("hs").as("a_hs")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), Seq("b_id"))
      .withColumn("n_common",
        size(array_intersect(col("a_hs"), col("b_hs"))).cast("long"))
      .withColumn("n_union",
        (size(col("a_hs")) + size(col("b_hs"))).cast("long") - col("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= 0.7)
      .select(col("a_id"), col("b_id"), col("n_common"), col("n_union"),
        col("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Shared exact-Jaccard verify: re-join the full shingle sets onto the
    * candidate pairs and keep J > threshold (≥ when `inclusive`) — used by
    * the capped and the prefix-filtered candidate generators, one
    * spelling, no drift. */
  private def exactJaccardVerify(d: DataFrame, pairs: DataFrame,
      threshold: Double = 0.5, inclusive: Boolean = false): DataFrame =
    pairs
      .join(d.select(col("doc_id").as("a_id"), col("ss").as("a_ss")), Seq("a_id"))
      .join(d.select(col("doc_id").as("b_id"), col("ss").as("b_ss")), Seq("b_id"))
      .withColumn("n_common", size(array_intersect(col("a_ss"), col("b_ss"))).cast("long"))
      .withColumn("n_union",
        (size(col("a_ss")) + size(col("b_ss"))).cast("long") - col("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
      .filter(if (inclusive) col("jaccard") >= threshold
              else col("jaccard") > threshold)
      .select(col("a_id"), col("b_id"), col("n_common"), col("n_union"), col("jaccard"))
      .orderBy("a_id", "b_id")

  // -- HyperLogLog distinct sketch (mergeable Aggregator) ----------------------
  // Third sketch class beside KMV and Count-Min: per-source distinct-token
  // estimation whose partial state is a FIXED 256-byte register array —
  // the exchange payload is constant however many distinct tokens a
  // partition holds, which is why HLL (not KMV's k longs, not exact
  // distinct's full key set) is what a 1000-executor fleet merges for
  // corpus cardinality dashboards. The gate runs the custom Aggregator
  // against a full SQL mirror of the register math (trailing-zero rho =
  // 1 + bit_count((w & -w) - 1), integer-exact harmonic-sum numerator) —
  // exact count, numerator, empty-register count, and the one-division
  // float estimate all value-checked.
  private def distinctHll(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllSketchAggregator
    val hll = udaf(new HllSketchAggregator())
    val toks = docs(s, dir)
      .select(col("source"), explode(tokensExpr).as("tok"))
      .distinct()
      .withColumn("h", graft.functions.Md5BitsFunctions.md5Bits60(col("tok")))
    toks.groupBy("source").agg(hll(col("h")).as("r"))
      .select(col("source"), col("r.n_exact").as("n_exact"),
        col("r.s").as("hll_s"), col("r.zeros").as("hll_zeros"),
        (lit(HllSketchAggregator.AlphaNum) / col("r.s").cast("double"))
          .as("hll_est"))
      .orderBy("source")
  }

  // -- per-domain frequency cap -------------------------------------------------
  // The anti-domination step of a crawl pipeline: keep at most CapK
  // documents per source/domain, chosen by a deterministic salted hash
  // (a reproducible uniform sample, not "first K in scan order"). Runs
  // through the bounded-heap TopKPerKey exec: per-(task, source) state is
  // CapK rows regardless of how many documents a hostile domain contributes
  // — the exact spelling that survives a crawl where one domain is 10% of
  // the corpus, where a row_number Window would sort that domain's full
  // partition (and one task would hold it).
  private[queries] val CapK = 10
  private def domainCap(s: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.perKey(
      docs(s, dir).select(col("source"), col("doc_id"))
        .withColumn("h", md5(concat(lit("cap:"), col("doc_id").cast("string")))),
      Seq(col("source")), Seq(col("h").asc, col("doc_id").asc), CapK)
      .select(col("source"), col("doc_id"), col("rk").cast("long").as("rk"))
      .orderBy("source", "rk")

  // -- curriculum ordering ------------------------------------------------------
  // Curriculum learning's data-side half: a global training order that is
  // easy→hard ACROSS difficulty bands but uniformly shuffled WITHIN each
  // band (band = n_chars DIV 512 — swap in any difficulty proxy; the plan
  // is identical). Dense global positions come from the distributed
  // two-phase prefix scan over (band, salted hash) — one range shuffle,
  // never a single-partition Window — so the epoch order is reproducible
  // AND writable as position-ranged shards at fleet scale.
  private def curriculum(s: SparkSession, dir: String): DataFrame = {
    val keyed = docs(s, dir)
      .select(col("doc_id"), expr("n_chars DIV 512").as("band"))
      .withColumn("h", md5(concat(lit("curr:"), col("doc_id").cast("string"))))
      .withColumn("one", lit(1L))
    graft.operators.PrefixSum
      .exclusive(keyed, Seq(col("band"), col("h"), col("doc_id")), "one", "pos", 0)
      .select(col("doc_id"), col("band"), col("pos"))
      .orderBy("pos")
  }

  // -- weighted exactly-k sampling (priority / Efraimidis–Spirakis) ------------
  // d_sample_pps draws size-proportional Bernoulli — right rates, random
  // OUTPUT SIZE. Priority sampling fixes the size: each doc gets priority
  // weight / u with u a deterministic salted-hash uniform, and the k
  // highest priorities are the weighted sample without replacement. u =
  // (h+1)/2^60 from the 60-bit md5 hash, so the priority is one IEEE
  // division of exact integers — both engines order identical doubles.
  // The top-k runs through the global bounded-heap exec: per-partition
  // partial heaps, ≤ k×partitions rows to the final merge, never a global
  // sort. Weight here = n_chars (size-biased curation); swap any score.
  private val WeightedK = 50
  private def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val prio = docs(s, dir)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.Md5BitsFunctions
          .md5Bits(concat(lit("wsample:"), col("doc_id").cast("string")), 1, 15)
          .as("h"))
      .withColumn("priority",
        col("n_chars").cast("double") * lit(1152921504606846976.0) /
          (col("h") + 1L).cast("double"))
    graft.operators.TopK.global(prio,
        Seq(col("priority").desc, col("doc_id").asc), WeightedK)
      .select(col("doc_id"), col("n_chars"), col("priority"),
        col("rk").cast("long").as("rk"))
      .orderBy("rk")
  }

  // -- corpus snapshot diff -----------------------------------------------------
  // Dataset-versioning audit: what changed between two corpus releases?
  // Fingerprint both snapshots (md5 of content), ONE full-outer hash join
  // on the doc id, classify added / removed / changed / same. The two
  // snapshots here are deterministic derivations of the one test corpus
  // (v1 drops doc_id≡6 mod 7, v2 drops ≡4 mod 5 and rewrites ≡0 mod 3) so
  // every status class is populated. At fleet scale both releases are
  // bucketed by doc_id (operators/Bucketing) and the join plans with zero
  // exchanges; only (id, 16-byte fp) pairs move, never the payloads.
  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = docs(s, dir).filter(expr("doc_id % 7 != 6"))
      .select(col("doc_id").as("id1"), md5(col("text")).as("fp1"))
    val v2 = docs(s, dir).filter(expr("doc_id % 5 != 4"))
      .select(col("doc_id").as("id2"),
        md5(expr("CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END"))
          .as("fp2"))
    v1.join(v2, col("id1") === col("id2"), "full_outer")
      .select(coalesce(col("id1"), col("id2")).as("doc_id"),
        when(col("id1").isNull, "added")
          .when(col("id2").isNull, "removed")
          .when(col("fp1") =!= col("fp2"), "changed")
          .otherwise("same").as("status"))
      .orderBy("doc_id")
  }

  // -- distribution drift between snapshots (chi-square divergence) ------------
  // The release-monitoring companion of d_snapshot_diff: row-level diffs
  // say WHAT changed, this says whether the corpus SHAPE drifted — the
  // signal that triggers re-mixing/re-training decisions. Documents bucket
  // by token count (width 25); the per-bucket drift contribution is the
  // chi-square divergence term (p−q)²/(p+q) between the two snapshots'
  // bucket proportions. Chi-square rather than the usual PSI/KL ON
  // PURPOSE: ln() is the one op whose last bit varies across libms (the
  // DSIR rationale), while this is division/multiplication of doubles
  // derived from exact integer counts — one shared IEEE tree, hash-exact
  // on both engines, rounded with the version-proof floor spelling. The
  // two snapshots are the doc_id-parity halves of the one test corpus (a
  // deterministic stand-in for consecutive releases). Plan: one narrow
  // scan + one bucket-sized hash agg + a 1-row totals broadcast — nothing
  // corpus-sized moves.
  private def driftChi2(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(
      expr("size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) div 25")
        .cast("long").as("bucket"),
      (col("doc_id") % 2 === 0).as("in_a"))
    val counts = d.groupBy("bucket").agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
    val totals = counts.agg(
      sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
    def r6(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    counts.crossJoin(broadcast(totals))
      .withColumn("p", col("n_a").cast("double") / col("t_a").cast("double"))
      .withColumn("q", col("n_b").cast("double") / col("t_b").cast("double"))
      .select(col("bucket"), col("n_a"), col("n_b"),
        r6((col("p") - col("q")) * (col("p") - col("q")) /
          (col("p") + col("q"))).as("chi2_r"))
      .orderBy("bucket")
  }

  // -- bigram-coverage quality score -------------------------------------------
  // The log-free stand-in for LM-based quality scoring: what fraction of a
  // document's adjacent bigrams are corpus-frequent (count ≥ 5)? Natural
  // prose scores high; boilerplate, shuffled text, and OCR noise score
  // low. Two vocabulary-cardinality aggregates + one semi join; the score
  // is a single exact-integer division.
  private def bigramCoverage(s: SparkSession, dir: String): DataFrame = {
    // the persist is a CollapseProject barrier (same trap trigramOfToks
    // documents): inlined into the lambda, regexp_extract_all would re-run
    // once per bigram POSITION — O(tokens × text) per doc, measured 44s →
    // ~4s at sf0.01. The exploded bigrams are persisted too: three
    // consumers below (corpus frequencies, per-doc totals, per-doc hits).
    val toked = docs(s, dir).select(col("doc_id"), tokensExpr.as("toks"))
      .persist()
    val d = toked
      .withColumn("bigrams", expr(
        "case when size(toks) < 2 then array() else " +
          "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) end"))
    val all = d.select(col("doc_id"), explode(col("bigrams")).as("bigram"))
      .persist()
    // eager fill (fills toked transitively): `freq` broadcasts into the
    // semi join under AQE, and an unfilled `all` would make that build
    // re-tokenize the corpus (§3 broadcast-bypass)
    all.count()
    val freq = all.groupBy("bigram").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 5).select("bigram")
    val tot = all.groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"))
    val hits = all.join(freq, Seq("bigram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    tot.join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_bigrams").cast("double")).as("coverage"))
      .orderBy("doc_id")
  }

  // -- relative quality gate: per-language median threshold --------------------
  // Absolute quality cutoffs misfire across languages (token counts differ
  // structurally), so production gates threshold RELATIVE to the language's
  // own distribution. Two phases like d_mix_temperature: an exact per-lang
  // median of n_tokens (rows = #languages, broadcast back), then a narrow
  // filtered scan. The median is `percentile` — linear interpolation,
  // already proven bit-compatible with DuckDB's quantile_cont by
  // q_percentiles. At 100 TB the exact percentile becomes the one expensive
  // step (it sorts per language); the swap is approx_percentile with the
  // same join shape.
  private def qualityGateRel(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        size(tokensExpr).cast("long").as("n_tokens"))
    val th = d.groupBy(col("lang").as("t_lang"))
      .agg(expr("percentile(n_tokens, 0.5)").as("p50"))
    d.join(broadcast(th), col("lang") === col("t_lang"))
      .filter(col("n_tokens").cast("double") >= col("p50"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("p50"))
      .orderBy("doc_id")
  }

  // -- PPS (probability-proportional-to-size) Bernoulli sampling --------------
  // The other half of the sampling toolkit beside the equal-rate stratified
  // sample: each doc is kept with probability ∝ its size, so the expected
  // sample is `target` docs but long documents are over-represented — the
  // draw a token-budgeted pipeline wants when one 100k-token doc matters
  // more than fifty 2k ones. Deterministic: u = the first 52 bits of
  // md5(doc_id) / 2^52 (exact in a double — the divisor is a power of two),
  // p = n_chars·target / Σn_chars (one exact BIGINT product, one correctly-
  // rounded division — bit-identical cross-engine). At 100 TB the total is
  // one map-side-combined aggregate broadcast back over a per-row filter:
  // no shuffle of the corpus, no RNG state, re-runs reproduce the sample.
  // Docs with p ≥ 1 (larger than total/target) are simply always kept.
  private def samplePps(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
    val tot = d.agg(sum(col("n_chars")).as("total_chars"))
    d.crossJoin(broadcast(tot))
      .withColumn("u", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10) as double)" +
          " / 4503599627370496.0"))
      .withColumn("p", expr("cast(n_chars * 100 as double) / cast(total_chars as double)"))
      .filter(col("u") < col("p"))
      .select(col("doc_id"), col("n_chars"), col("p"))
      .orderBy("doc_id")
  }

  // -- per-language winsorization (outlier clipping at exact p10/p90) --------
  // The robust-statistics preprocessing step: clip each language's n_chars
  // distribution at its own 10th/90th percentile before computing means a
  // single 10 MB outlier would dominate. The bounds are EXACT nearest-rank
  // order statistics spelled as integer rank arithmetic — row_number per
  // language and lo = value at rank (n−1)·10 DIV 100 + 1 — so both engines
  // pick the identical element (no interpolation semantics to disagree on).
  // Per-language windows partition-scale (state = one language's run); the
  // bounds collapse to #languages rows and broadcast back over the corpus.
  // At fleet scale you would swap the rank pass for approx_percentile and
  // keep the same clip join.
  private def winsorize(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    val ranked = d.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")).cast("long"))
    val loRank = expr("(n - 1) * 10 DIV 100 + 1")
    val hiRank = expr("(n - 1) * 90 DIV 100 + 1")
    val bounds = ranked.filter(col("rn") === loRank || col("rn") === hiRank)
      .groupBy("lang")
      .agg(min(when(col("rn") === loRank, col("n_chars"))).as("lo"),
           min(when(col("rn") === hiRank, col("n_chars"))).as("hi"))
    d.join(broadcast(bounds), Seq("lang"))
      .withColumn("clipped", greatest(col("lo"), least(col("hi"), col("n_chars"))))
      .select("doc_id", "lang", "n_chars", "lo", "hi", "clipped")
      .orderBy("doc_id")
  }

  // -- quantile normalization across sources ----------------------------------
  // Make per-source score distributions comparable by mapping each doc's
  // WITHIN-SOURCE rank onto the GLOBAL value at the same relative rank —
  // the rank-based normalization that survives arbitrary monotone
  // differences between sources (one source's length inflation, another's
  // truncation). Global positions come from the PrefixSum two-phase scan
  // (a global ROW_NUMBER window would collapse to one partition); the
  // per-source ranks are partitioned windows; the mapping
  // g_idx = (rn−1)·(N−1) DIV (n_s−1) is pure integer math, identical on
  // both engines, and the value lookup is one equi join against the
  // N-row (pos, value) table. Singleton sources map to the global median.
  private def quantileNorm(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
    val g = graft.operators.PrefixSum.exclusive(
        d.withColumn("one", lit(1L)),
        Seq(col("n_chars"), col("doc_id")), "one", "pos", 0)
      .select(col("pos"), col("n_chars").as("g_v"))
    val nTot = d.agg(count(lit(1)).as("n_tot"))
    val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val ranked = d.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_s",
        count(lit(1)).over(Window.partitionBy("source")).cast("long"))
    ranked.crossJoin(broadcast(nTot))
      .withColumn("g_idx", when(col("n_s") > 1,
          expr("(rn - 1) * (n_tot - 1) DIV (n_s - 1)"))
        .otherwise(expr("(n_tot - 1) DIV 2")))
      .join(g, col("g_idx") === col("pos"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("g_v").as("norm_chars"))
      .orderBy("doc_id")
  }

  // -- T5-style span corruption (training-task construction) ------------------
  // The augmentation step that turns a clean corpus into (input, target)
  // pairs for denoising pretraining: every 10th token starts a 3-token
  // masked span; the input keeps unmasked tokens with one <extra_id_k>
  // sentinel per span, the target lists each sentinel followed by the
  // tokens it hides. Fully deterministic (the mask schedule is positional,
  // not sampled) so both engines produce byte-identical pairs — the
  // reproducibility a data-lineage audit needs. Zero shuffles: the whole
  // construction is transform/filter over the token array riding the scan.
  private val CorruptPeriod = 10
  private val CorruptLen = 3

  private def spanCorrupt(s: SparkSession, dir: String): DataFrame = {
    val P = CorruptPeriod
    val L = CorruptLen
    docs(s, dir)
      .withColumn("toks", tokensExpr)
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("input_text", expr(
        s"""concat_ws(' ', filter(transform(sequence(0, n - 1), i ->
           |  if(i % $P < $L and (i DIV $P) * $P + $L <= n,
           |     if(i % $P = 0, concat('<extra_id_', i DIV $P, '>'),
           |        cast(null as string)),
           |     element_at(toks, i + 1))), x -> x is not null))""".stripMargin))
      .withColumn("target_text", expr(
        s"""concat_ws(' ', flatten(transform(sequence(0, (n - 1) DIV $P), sp ->
           |  if(sp * $P + $L <= n,
           |     concat(array(concat('<extra_id_', sp, '>')),
           |       slice(toks, sp * $P + 1, $L)),
           |     array()))))""".stripMargin))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        col("input_text"), col("target_text"))
      .orderBy("doc_id")
  }

  // -- FIM (fill-in-the-middle) task construction -----------------------------
  // The code-LM infilling transform: split each doc's token stream into
  // (prefix, middle, suffix) at two deterministic hash-derived cut points
  // and render the PSM order — prefix sentinel + prefix, suffix sentinel +
  // suffix, middle sentinel + middle — so the model learns to infill
  // conditioned on both sides. Cuts are a pure function of doc_id (the
  // reproducibility a lineage audit needs); the render is one transform
  // over the token array riding the scan, zero shuffle. Transcripts gate
  // as md5 + span lengths.
  private def fimSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", tokensExpr)
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 3)
      .withColumn("h1", expr(
        "cast(conv(substring(md5(concat('fim1:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"))
      .withColumn("h2", expr(
        "cast(conv(substring(md5(concat('fim2:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"))
      // 1 <= c1 < c2 < n: prefix [1..c1], middle (c1..c2], suffix (c2..n]
      .withColumn("c1", col("h1") % (col("n") - 2) + 1L)
      .withColumn("c2", col("c1") + col("h2") % (col("n") - col("c1") - 1L) + 1L)
      .withColumn("psm", concat(
        lit("<fim_prefix> "),
        concat_ws(" ", expr("slice(toks, 1, cast(c1 as int))")),
        lit(" <fim_suffix> "),
        concat_ws(" ", expr("slice(toks, cast(c2 + 1 as int), cast(n - c2 as int))")),
        lit(" <fim_middle> "),
        concat_ws(" ", expr("slice(toks, cast(c1 + 1 as int), cast(c2 - c1 as int))"))))
      .select(col("doc_id"), col("n").as("n_tokens"), col("c1"), col("c2"),
        md5(col("psm")).as("psm_md5"))
      .orderBy("doc_id")

  // -- Count-Min Sketch heavy hitters -----------------------------------------
  // The third sketch class beside KMV (distinct count) and MinHash
  // (similarity): a 4×256 Count-Min Sketch of the token stream. The sketch
  // build is ONE hash aggregate whose output is ≤1024 cells no matter the
  // corpus size — the partial aggregates ARE the sketch merge, so at
  // 100 TB every task combines to 1024 counters map-side and the exchange
  // carries a fixed-size summary. The gate queries the sketch for the
  // exact top-20 tokens and emits (exact, estimate) side by side: the
  // estimate is min over the 4 rows' cells, and CMS's one-sided error
  // (est ≥ exact, overshoot = collisions) is visible in the output rather
  // than asserted away. Hashes are salted md5 — identical hex cross-engine.
  private def cmsHeavy(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    def cellExpr(i: Int, tok: String): String =
      s"md5_bits(concat('cms-$i-', $tok), 1, 8) % 256"
    val toks = docs(s, dir).select(explode(tokensExpr).as("tok"))
    // the sketch is built FROM the per-token counts, not the raw stream:
    // Σ_{tok→cell} count(tok) is cell-for-cell identical to counting
    // occurrences, but the 4 md5s run once per DISTINCT token (vocabulary)
    // instead of once per occurrence — measured 15s → ~2s at sf0.1. A
    // stream with no exact-count side would instead posexplode occurrences
    // straight into the 4×256 groupBy (map-side combinable, ≤1024 partial
    // rows per task); here the exact table exists anyway for the gate.
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .persist()
    exact.count() // eager fill (§3): the probe/top sides broadcast below
    val sketch = exact
      .select(col("exact_cnt"), posexplode(array((0 until 4).map(i =>
        expr(cellExpr(i, "tok"))): _*)).as(Seq("row_idx", "cell")))
      .groupBy("row_idx", "cell").agg(sum(col("exact_cnt")).as("c"))
    val top = graft.operators.TopK.global(exact,
        Seq(col("exact_cnt").desc, col("tok").asc), 20)
      .drop("rk")
    val probes = top.select(col("tok"), col("exact_cnt"),
      posexplode(array((0 until 4).map(i =>
        expr(cellExpr(i, "tok"))): _*)).as(Seq("row_idx", "cell")))
    probes.join(sketch, Seq("row_idx", "cell"))
      .groupBy("tok", "exact_cnt")
      .agg(min(col("c")).as("est_cnt"))
      .orderBy("tok")
  }

  // -- release manifest: the end-to-end corpus-publication rollup ------------
  // The composition a dataset release actually ships with: quality gate →
  // exact dedup (keep the lowest doc_id per text hash) → deterministic
  // split assignment → per-(split, lang) doc and token counts. One
  // dataflow: the dedup aggregate is the only corpus-sized shuffle (the
  // split is a per-row hash, the manifest rollup has split×lang
  // cardinality); at 100 TB this is the same single-exchange shape as
  // d_corpus_pipeline with the split/manifest stages riding on top.
  /** The release pipeline's row set: quality gate → exact dedup (keep
    * lowest doc_id per text hash) → split assignment. ONE spelling shared
    * by the d_release_manifest oracle query and the `corpus` CLI
    * (operators/CorpusRelease), so the shipped tool cannot drift from the
    * oracle-gated semantics.
    */
  /** The release's quality gate + dedup key: every doc that passes the
    * token floor, with its text hash attached. This frame (winners AND
    * losers) is the release's dedup STATE — the analog of the OSM element
    * cache: CorpusRelease persists it so later deltas can resurrect a
    * loser when its winner is deleted. */
  private[graft] def releaseGated(d: DataFrame, minTokens: Long): DataFrame =
    d.withColumn("n_tokens", size(tokensExpr).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .withColumn("text_hash", md5(col("text")))

  /** Winners of a gated frame: min doc_id per text hash, split-assigned.
    * Shared by the batch release and the delta path's touched-hash slice —
    * one spelling, so incremental and rebuild cannot drift. */
  private[graft] def releaseWinnersOf(gated: DataFrame): DataFrame = {
    val survivors = gated.groupBy(col("text_hash").as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    withSplit(gated.join(survivors, Seq("doc_id")))
  }

  private[graft] def releaseKept(d: DataFrame, minTokens: Long): DataFrame =
    releaseWinnersOf(releaseGated(d, minTokens))

  /** (split, lang) rollup of a releaseKept frame — shared with the CLI. */
  private[graft] def releaseManifestOf(kept: DataFrame): DataFrame =
    kept.groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy("split", "lang")

  private def releaseManifest(s: SparkSession, dir: String): DataFrame =
    releaseManifestOf(releaseKept(docs(s, dir), 50L))

  // -- corpus vocabulary / document-frequency table ---------------------------
  // The corpus-wide (token, tf, df) inventory with the same log-free
  // rational idf as d_bm25 — the precomputed statistics a serving-time BM25
  // or a tf-idf featurizer reads instead of re-scanning the corpus. One
  // explode + one hash aggregate; the doc count rides along as a broadcast
  // 1-row cross join. At 100 TB the aggregate is the only exchange and its
  // cardinality is the vocabulary, not the corpus.
  private def vocab(s: SparkSession, dir: String): DataFrame = {
    val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    docs(s, dir)
      .select(col("doc_id"), explode(tokensExpr).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df_docs"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_r", round(
        ((col("n_docs").cast("double") - col("df_docs").cast("double")) + lit(0.5))
          / (col("df_docs").cast("double") + lit(0.5)), 6))
      .select(col("tok"), col("tf"), col("df_docs"), col("idf_r"))
      .orderBy("tok")
  }

  // -- deterministic train/val/test split -------------------------------------
  // The split every training run starts from, spelled so it is a PROPERTY
  // OF THE ROW, not of the run: bucket = md5(doc_id) % 100, train < 90,
  // val < 95, test otherwise. Re-running, re-partitioning, or appending new
  // data never moves an existing doc across splits — the invariant that
  // keeps eval sets honest — and the assignment is a zero-shuffle narrow
  // scan any engine reproduces bit-for-bit.
  /** Shared split assignment (d_split + d_release_manifest): one spelling
    * of the bucket hash and the 90/95 thresholds, so the two queries
    * cannot assign a doc to different splits.
    */
  private val splitBucketExpr: Column = expr(
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100")

  private[graft] def withSplit(df: DataFrame): DataFrame =
    df.withColumn("bucket", splitBucketExpr)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))

  private def splitDocs(s: SparkSession, dir: String): DataFrame =
    withSplit(docs(s, dir))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy("doc_id")

  // -- leakage-safe split: near-dup clusters never straddle train/test --------
  // A doc_id-hashed split (d_split) leaks whenever two near-duplicates land
  // on opposite sides — the eval set then contains paraphrases of training
  // rows. The leakage-safe spelling keys the SAME md5 bucket hash by the
  // near-dup CLUSTER id (connected components over the verified MinHash
  // pairs; singletons are their own cluster), so an entire duplicate family
  // moves as one unit and remains stable under re-runs and appends. Scale
  // shape: clusters come from the banded-LSH components (never all-pairs);
  // cluster membership is pair-output-sized, so the assignment join
  // broadcasts back onto the corpus scan — no new corpus-sized shuffle.
  private def splitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.operators.ConnectedComponents
      .clusters(dedupMinHash(s, dir).select("a_id", "b_id"), "a_id", "b_id")
      .select(col("id").as("doc_id"), col("cluster_id"))
    docs(s, dir).select(col("doc_id"))
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(cast(cluster_id as string)), 1, 8), 16, 10) as bigint) % 100"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")
  }

  // -- tf-idf top terms per source --------------------------------------------
  // The corpus-exploration staple ("what is each source about"): global
  // document frequencies give the rational idf (same log-free spelling as
  // d_vocab/d_bm25), per-(source, token) counts give tf, and the top-5
  // terms per source rank by tf·idf through the bounded-heap TopK exec —
  // never a full partition sort. Both aggregates shuffle on the token
  // (vocabulary cardinality); the idf side joins in at vocabulary size,
  // not corpus size. tf·idf is one exact-long→double widening times an
  // already-rounded double — deterministic cross-engine.
  private def topTerms(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), col("source"), explode(tokensExpr).as("tok"))
    val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val idf = toks.groupBy("tok")
      .agg(countDistinct(col("doc_id")).as("df_docs"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_r", round(
        ((col("n_docs").cast("double") - col("df_docs").cast("double")) + lit(0.5))
          / (col("df_docs").cast("double") + lit(0.5)), 6))
      .select("tok", "idf_r")
    val scored = toks.groupBy("source", "tok")
      .agg(count(lit(1)).as("tf"))
      .join(idf, Seq("tok"))
      .withColumn("score", col("tf").cast("double") * col("idf_r"))
    graft.operators.TopK.perKey(scored, Seq(col("source")),
        Seq(col("score").desc, col("tok").asc), 5)
      .select(col("source"), col("rk"), col("tok"), col("tf"), col("score"))
      .orderBy("source", "rk")
  }

  // -- column-level profiling: null / distinct / extent per column ------------
  // The data-quality report a dataset owner reads before trusting a new
  // drop: one row per column with its null count, distinct count, and
  // value-length extents. Spelled as ONE aggregate over one scan (the
  // multi-distinct expands to a couple of internal passes Catalyst plans
  // itself) and unpivoted to rows with stack() — at fleet scale the exact
  // countDistincts swap to approx_count_distinct and the shape is
  // unchanged. The profile's cardinality is #columns, never the corpus.
  private def profileDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val wide = d.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("lang").isNull, 1L).otherwise(0L)).as("lang_nulls"),
      countDistinct(col("lang")).as("lang_distinct"),
      sum(when(col("source").isNull, 1L).otherwise(0L)).as("source_nulls"),
      countDistinct(col("source")).as("source_distinct"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("text_nulls"),
      countDistinct(col("text")).as("text_distinct"),
      min(length(col("text")).cast("long")).as("text_min_len"),
      max(length(col("text")).cast("long")).as("text_max_len"))
    wide.select(col("n_rows"), expr(
      """stack(3,
        | 'lang',   lang_nulls,   lang_distinct,   null,         null,
        | 'source', source_nulls, source_distinct, null,         null,
        | 'text',   text_nulls,   text_distinct,   text_min_len, text_max_len)
        | AS (column_name, n_nulls, n_distinct, min_len, max_len)""".stripMargin))
      .select("column_name", "n_rows", "n_nulls", "n_distinct",
        "min_len", "max_len")
      .orderBy("column_name")
  }

  // -- token-budget corpus selection -------------------------------------------
  // "Fill a training budget with the best documents": rank docs by merit
  // (non-stopword token fraction — deterministic, identical IEEE division
  // on both engines), then keep every doc whose predecessors in merit order
  // total under the budget. The global cumulative token count is the
  // PrefixSum two-phase scan over (merit DESC, doc_id) — the multi-column
  // ordering variant — never a single-partition Window.
  private val SelectBudget = 10000L

  private def budgetSelect(s: SparkSession, dir: String): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    val base = docs(s, dir)
      .withColumn("toks", tokensExpr)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("n_stop",
        size(filter(col("toks"), t => array_contains(stopArr, t))).cast("long"))
      .withColumn("merit",
        (col("n_tokens") - col("n_stop")).cast("double")
          / col("n_tokens").cast("double"))
      .select("doc_id", "n_tokens", "merit")
    graft.operators.PrefixSum
      .exclusive(base, Seq(col("merit").desc, col("doc_id")),
        "n_tokens", "tokens_before", 0)
      .filter(col("tokens_before") < SelectBudget)
      .select(col("doc_id"), col("n_tokens"),
        round(col("merit"), 6).as("merit_r"), col("tokens_before"))
      .orderBy("doc_id")
  }

  // -- BPE merge training (real byte-pair-encoding, distributed) --------------
  // Learns the first `BpeIters` merge rules from the corpus the way a
  // tokenizer trainer does: start from characters, repeatedly (1) count
  // adjacent symbol pairs weighted by word frequency, (2) take the most
  // frequent pair (ties: lexicographic — deterministic), (3) merge every
  // adjacent occurrence greedily left-to-right.
  //
  // Distribution: the corpus collapses to its WORD-FREQUENCY table first
  // (one shuffle whose cardinality is the vocabulary — ~10⁷ at 100 TB, not
  // the corpus), and every iteration is a narrow scan + small aggregate
  // over that table; only the 1-row argmax comes to the driver per
  // iteration (control plane, like IvfIndex's probed cells).
  //
  // Merge application is a string rewrite shared verbatim with the oracle:
  // symbols are double-space-joined (' a  b  c '); replacing ' a  b ' with
  // ' ab ' implements exactly the greedy leftmost-first merge because
  // replace() consumes matches left-to-right without overlap and each
  // replacement re-establishes the two-space invariant. Symbols are alnum
  // (never contain spaces), so the encoding is unambiguous.
  private[queries] val BpeIters = 8

  /** The learned merge rules: (iteration, a, b, merged, weighted count). */
  private def learnBpeMerges(s: SparkSession,
      dir: String): Seq[(Long, String, String, String, Long)] = {
    val words = docs(s, dir)
      .select(explode(tokensExpr).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("sy", expr("concat('  ', array_join(split(w, ''), '  '), '  ')"))
      .select("sy", "freq")
      .persist()
    words.count() // materialize once; 8 iterations re-read the cached vocab
    var v = words
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    for (it <- 1 to BpeIters) {
      val top = v
        .select(col("freq"), explode(expr(
          // single-symbol words have no pairs — and Spark's sequence(1, 0)
          // counts DOWN, so guard instead of relying on an empty range
          "if(size(split(trim(sy), '  ')) < 2, " +
            "array(), " +
            "transform(sequence(1, size(split(trim(sy), '  ')) - 1), " +
            "i -> struct(element_at(split(trim(sy), '  '), i) as a, " +
            "element_at(split(trim(sy), '  '), i + 1) as b)))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (a, b, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((it.toLong, a, b, a + b, cnt))
        v = v.withColumn("sy",
          expr(s"replace(sy, ' $a  $b ', ' $a$b ')"))
      }
    }
    words.unpersist()
    merges.result()
  }

  private def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    learnBpeMerges(s, dir).toDF("it", "pair_a", "pair_b", "merged", "cnt")
      .orderBy("it")
  }

  // -- BPE encode: apply the learned merges to the corpus ---------------------
  // The serving half of the trainer: every word re-tokenized under the
  // learned vocab via the same nested replace chain (a literal expression
  // tree — zero shuffles, pure codegen'd scan), with the per-doc symbol
  // count and fertility (symbols per word — the metric tokenizer quality
  // is judged by). The merges are driver-known literals at plan time;
  // d_bpe_merges gates that they match the oracle's, and the oracle here
  // recomputes them in-query and applies them as column expressions.
  private def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = learnBpeMerges(s, dir)
    val applied = merges.foldLeft(
      "concat('  ', array_join(split(w, ''), '  '), '  ')") {
      case (e, (_, a, b, m, _)) => s"replace($e, ' $a  $b ', ' $m ')"
    }
    docs(s, dir)
      .withColumn("toks", tokensExpr)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        expr("aggregate(toks, 0L, (acc, w) -> acc + " +
          s"size(split(trim($applied), '  ')))").as("n_syms"))
      .withColumn("fertility", round(
        col("n_syms").cast("double") / col("n_words").cast("double"), 6))
      .orderBy("doc_id")
  }

  // -- per-source corpus report ------------------------------------------------
  // The health dashboard a dataset owner reads before a training run: one
  // row per (source, lang) rolling up volume (docs, tokens, chars),
  // quality-gate pass rate, and exact-duplicate rate. Composition of the
  // existing signals as ONE aggregation — the quality counters and the
  // dup flag ride the same shuffle; the only extra exchange is the md5
  // self-grouping that defines duplicates (survivor = min doc_id, as
  // d_dedup_exact). Integer-ratio outputs keep the gate float-free.
  private def sourceReport(s: SparkSession, dir: String): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    val base = docs(s, dir)
      .withColumn("toks", tokensExpr)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => array_contains(stopArr, t))).cast("long"))
      .withColumn("n_punct",
        (length(col("text")) - length(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""))).cast("long"))
      .withColumn("ok",
        (col("n_tokens") >= 10 && col("n_stop") * 2 < col("n_tokens") &&
          col("n_punct") * 5 < col("n_tokens")).cast("long"))
    val survivors = docs(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1L).as("is_survivor"))
    base.join(survivors, Seq("doc_id"), "left")
      .withColumn("is_dup", (col("is_survivor").isNull).cast("long"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(col("ok")).as("n_quality_ok"),
        sum(col("is_dup")).as("n_dups"))
      .orderBy("source", "lang")
  }

  /** BM25 query terms: one near-ubiquitous, one common, one rare —
    * the idf spread the saturation curve is about. */
  private[queries] val bmTerms = Seq("spark", "key", "dup")

  // -- keyword relevance: BM25-shaped scoring ---------------------------------
  // tf-saturation × doc-length normalization × idf (k1 = 1.2, b = 0.75).
  // The idf is the rational core (N - df + ½)/(df + ½) WITHOUT the log:
  // ln() is the one operation whose last bit libm implementations disagree
  // on, and the gate compares bit-exact hashes — every op used here (+ − ×
  // ÷) is IEEE exactly-rounded, so an identical expression tree gives
  // identical doubles on both engines. Ranking is unaffected for a
  // single-term query and near-identical for short queries (the map is
  // monotone); swap in ln() when nothing diff-tests the scores.
  // Scale: a fixed query term list means NO inverted index pass — tf per
  // term is a codegen'd filter over the token array in one narrow scan, the
  // corpus stats (N, Σdl, df per term) are one tiny aggregate broadcast
  // back. An ad-hoc-query serving path would build the df-capped posting
  // index of d_dedup_ngram instead.
  private[queries] def bm25(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .withColumn("toks", tokensExpr)
      .withColumn("dl", size(col("toks")).cast("long"))
    val withTf = bmTerms.zipWithIndex.foldLeft(base) { case (df, (term, i)) =>
      df.withColumn(s"tf$i",
        expr(s"size(filter(toks, x -> x = '$term'))").cast("long"))
    }
    val aggs = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
      bmTerms.indices.map(i =>
        sum((col(s"tf$i") > 0).cast("long")).as(s"df$i"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
    val weights = bmTerms.indices.map { i =>
      val dfD = col(s"df$i").cast("double")
      val tfD = col(s"tf$i").cast("double")
      val idf = ((col("n_docs").cast("double") - dfD) + lit(0.5)) / (dfD + lit(0.5))
      // 0/den = 0 when tf = 0, so absent terms contribute exactly 0.0
      idf * ((tfD * lit(2.2)) /
        (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
    }
    scored
      .withColumn("score_r", round(weights.reduce(_ + _), 6))
      .select((col("doc_id") +: bmTerms.zipWithIndex.map { case (t, i) =>
        col(s"tf$i").as(s"tf_$t") } :+ col("score_r")): _*)
      .orderBy(col("score_r").desc, col("doc_id"))
  }

  // -- KWIC snippet extraction ------------------------------------------------
  // Keyword-in-context windows around every phrase occurrence — the
  // "show me the evidence" step behind decontamination review and search
  // result rendering. Per-match positions come from the shared phrase
  // matcher; each match joins back to its doc's token array ONCE (matches
  // are posting-list-sized, so the join is match-sized, and the snippet
  // slice is a per-row array op — no window, no second corpus pass).
  private val KwicCtx = 5L

  private def phraseKwic(s: SparkSession, dir: String): DataFrame = {
    val toked = docs(s, dir)
      .select(col("doc_id"), tokensExpr.as("toks"))
    val postings = toked
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    graft.operators.TermIndex.matchPositions(postings,
        graft.operators.TermIndex.termsOf(s, Phrases))
      .join(toked, Seq("doc_id"))
      .withColumn("start0", greatest(col("base") - KwicCtx, lit(0L)))
      .select(col("phrase"), col("doc_id"), col("base"),
        concat_ws(" ", expr(
          s"slice(toks, cast(start0 + 1 as int), " +
            s"cast(base + plen + $KwicCtx - start0 as int))")).as("snippet"))
      .orderBy("phrase", "doc_id", "base")
  }

  // -- boolean retrieval (AND / NOT over the pruned postings) -----------------
  // Conjunctive-with-negation queries, the workhorse of corpus forensics
  // ("docs mentioning spark AND key but NOT dup"): the pruned postings
  // scan pivots to per-term counts in ONE aggregation — no semi/anti join
  // chain, no second corpus pass — and the boolean predicate is a filter
  // over the pivot. At 100 TB the cost is the three posting lists.
  private def searchBool(s: SparkSession, dir: String): DataFrame = {
    val idx = FixtureArtifacts.cached("bool-idx", dir)(
      graft.operators.TermIndex.build(s, docs(s, dir), _))
    val buckets = bmTerms.map(t => graft.operators.TermIndex.bucketOf(t)).distinct
    s.read.parquet(idx)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("tok").isin(bmTerms: _*))
      .groupBy("doc_id")
      .agg(
        sum(when(col("tok") === bmTerms(0), 1L).otherwise(0L)).as("tf_a"),
        sum(when(col("tok") === bmTerms(1), 1L).otherwise(0L)).as("tf_b"),
        sum(when(col("tok") === bmTerms(2), 1L).otherwise(0L)).as("tf_not"))
      .filter(col("tf_a") > 0 && col("tf_b") > 0 && col("tf_not") === 0)
      .select(col("doc_id"), col("tf_a"), col("tf_b"))
      .orderBy("doc_id")
  }

  // -- proximity search (terms within a token window) -------------------------
  // The NEAR/k operator: a (a, b) pair qualifies when the terms appear
  // within `NearWindow` tokens of each other in either order. Positions
  // come from the same postings shape; the pair meets in a doc-keyed equi
  // join of the two (tiny) position lists, so the candidate space is the
  // product of the two terms' per-doc frequencies — never the corpus.
  private val NearWindow = 3L

  private def searchNear(s: SparkSession, dir: String): DataFrame = {
    val postings = docs(s, dir)
      .select(col("doc_id"), posexplode(tokensExpr).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val a = postings.filter(col("tok") === bmTerms(0))
      .select(col("doc_id"), col("pos").as("pa"))
    val b = postings.filter(col("tok") === bmTerms(1))
      .select(col("doc_id"), col("pos").as("pb"))
    a.join(b, Seq("doc_id"))
      .filter(abs(col("pa") - col("pb")) <= NearWindow)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pa") - col("pb"))).as("min_gap"))
      .orderBy("doc_id")
  }

  // -- served BM25 retrieval over the written inverted index ------------------
  // d_bm25 scores the WHOLE corpus in one scan (right for a fixed audit
  // query); this is the serving-path contrast: the query reads only its
  // terms' pruned bucket partitions of the TermIndex artifact, tf/df come
  // straight off the posting lists, and only MATCHING docs are scored —
  // at 100 TB a query costs its posting lists plus one doc-length join,
  // never a corpus scan. Scoring reuses d_bm25's spelling exactly (log-free
  // rational idf, k1 = 1.2 / b = 0.75 saturation, one IEEE tree over exact
  // integer tf/df/dl); the per-term weights pivot to FIXED columns before
  // the final sum so the score is a fixed expression tree, never an
  // order-dependent float SUM. Top-10 via the bounded-heap global top-k.
  /** Served BM25 scores (doc_id, score_r) for the fixed audit query over a
    * freshly built TermIndex — shared by the top-10 gate query and the
    * served hybrid stack (one spelling, so the two cannot drift). */
  private[queries] def searchBm25Scores(s: SparkSession, dir: String): DataFrame = {
    val idx = FixtureArtifacts.cached("search-idx", dir)(
      graft.operators.TermIndex.build(s, docs(s, dir), _))
    val dl = docs(s, dir)
      .select(col("doc_id"), size(tokensExpr).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val buckets = bmTerms.map(t => graft.operators.TermIndex.bucketOf(t)).distinct
    val tf = s.read.parquet(idx)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("tok").isin(bmTerms: _*))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("tok").agg(count(lit(1)).as("df_docs"))
    val w = tf.join(broadcast(dft), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("w",
        (((col("n_docs").cast("double") - col("df_docs").cast("double")) + lit(0.5)) /
          (col("df_docs").cast("double") + lit(0.5))) *
          ((col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl"))))))
    val pivots = bmTerms.map(t =>
      coalesce(max(when(col("tok") === t, col("w"))), lit(0.0)).as(s"w_$t"))
    w.groupBy("doc_id").agg(pivots.head, pivots.tail: _*)
      .withColumn("score_r",
        round(bmTerms.map(t => col(s"w_$t")).reduce(_ + _), 6))
      .select("doc_id", "score_r")
  }

  private def searchBm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.global(searchBm25Scores(s, dir),
        Seq(col("score_r").desc, col("doc_id").asc), 10)
      .select(col("rk").cast("long").as("rnk"), col("doc_id"), col("score_r"))
      .orderBy("rnk")

  // -- ranked-retrieval evaluation (MRR / nDCG@10) -----------------------------
  // The eval harness every retrieval stack needs next to its index: for a
  // fixed query set, rank the corpus by per-term BM25 and score the top-10
  // against graded pseudo-relevance labels derived from an INDEPENDENT
  // signal (how early the term first appears in the doc — a title/lead
  // proxy, the standard weak-label trick when no human qrels exist:
  // rel = 2 for first occurrence in the lead 10 tokens, 1 within 30, else
  // 0). Metrics are MRR@10 and nDCG@10. Cross-engine exactness: the rank
  // discounts 1/log2(r+1) are the ONLY transcendental — they're computed
  // once in Scala as integer 1e-9 units and inlined as the same literals
  // into both engines (dcgW), so DCG/IDCG are order-free BIGINT sums and
  // MRR/nDCG are exact integer divisions. Scale: one corpus scan fans out
  // to |queries|×matching-docs rows, per-query top-10 is the bounded-heap
  // TopK — never a global sort, never all queries × all docs.
  private val evalTerms = Seq("dup", "merge", "spark", "stream", "vector", "window")

  /** floor(1e9/log2(r+1)+0.5) for r=1..10 — inlined into BOTH engines so
    * neither ever evaluates log2 at query time. */
  private val dcgW: Seq[Long] = (1 to 10).map(r =>
    math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Terms pinned across three decades of document frequency in the
    * write-once Zipf fixture (df 5000 / 2719 / 725 / 141 / 33 / 8 at the
    * fixed generation parameters) — so the ranked-retrieval metrics are
    * also gated where idf actually varies (the sf corpus's 31-word
    * vocabulary gives every query term roughly the same df). */
  private val zipfEvalTerms =
    Seq("dlnyptn", "ejjnwp", "fhez", "gte", "otgfgbnf", "qyglxnx")

  private def retrievalEval(s: SparkSession, dir: String): DataFrame =
    retrievalEvalCore(docs(s, dir), evalTerms)

  private def retrievalEvalZipf(s: SparkSession, dir: String): DataFrame =
    retrievalEvalCore(graft.sources.ZipfGateFixture.docs(s), zipfEvalTerms)

  private def retrievalEvalCore(d: DataFrame, terms: Seq[String]): DataFrame = {
    val toked = d.select(col("doc_id"), tokensExpr.as("toks"))
    val dl = toked.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toked
      .select(col("doc_id"), col("toks"),
        explode(array(terms.map(lit): _*)).as("term"))
      .withColumn("tf", expr("cast(size(filter(toks, x -> x = term)) as long)"))
      .filter(col("tf") > 0)
      .withColumn("first_pos", expr("array_position(toks, term)"))
      .withColumn("rel", when(col("first_pos") <= 10, 2L)
        .when(col("first_pos") <= 30, 1L).otherwise(0L))
      .select("term", "doc_id", "tf", "rel")
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val w = tf.join(broadcast(dft), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("w",
        (((col("n_docs").cast("double") - col("df_docs").cast("double")) + lit(0.5)) /
          (col("df_docs").cast("double") + lit(0.5))) *
          ((col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl"))))))
      .withColumn("w_r", floor(col("w") * lit(1e6) + lit(0.5)) / lit(1e6))
    val wArr = array(dcgW.map(lit): _*)
    val ranked = graft.operators.TopK.perKey(w, Seq(col("term")),
        Seq(col("w_r").desc, col("doc_id").asc), 10)
      .withColumn("wgt", element_at(wArr, col("rk").cast("int")))
      .withColumn("gain",
        when(col("rel") === 2L, 3L).when(col("rel") === 1L, 1L).otherwise(0L))
    val dcg = ranked.groupBy("term").agg(
      sum(col("gain") * col("wgt")).as("dcg_i"),
      min(when(col("rel") > 0, col("rk").cast("long"))).as("hit0"))
    val ideal = graft.operators.TopK.perKey(tf.filter(col("rel") > 0),
        Seq(col("term")), Seq(col("rel").desc, col("doc_id").asc), 10)
      .withColumn("wgt", element_at(wArr, col("rk").cast("int")))
      .withColumn("gain", when(col("rel") === 2L, 3L).otherwise(1L))
      .groupBy("term").agg(sum(col("gain") * col("wgt")).as("idcg_i"))
    val nrel = tf.filter(col("rel") > 0).groupBy("term")
      .agg(count(lit(1)).as("n_rel"))
    // the final select is driven from the STATIC term list, not the dcg
    // frame: a query term absent from the corpus must report a zero row,
    // not silently vanish (r9 advice) — mirrored in retrievalEvalSql
    val termRows = d.sparkSession.range(1)
      .select(explode(array(terms.map(lit): _*)).as("term"))
    termRows.join(dcg, Seq("term"), "left")
      .join(ideal, Seq("term"), "left").join(nrel, Seq("term"), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .withColumn("hit_rank", coalesce(col("hit0"), lit(0L)))
      .withColumn("mrr_r", when(col("hit_rank") > 0,
        expr("1000000L div hit_rank").cast("double") / lit(1e6))
        .otherwise(lit(0.0)))
      .withColumn("ndcg_r", when(coalesce(col("idcg_i"), lit(0L)) > 0,
        expr("(dcg_i * 1000000L) div idcg_i").cast("double") / lit(1e6))
        .otherwise(lit(0.0)))
      .select("term", "n_rel", "hit_rank", "mrr_r", "ndcg_r")
      .orderBy("term")
  }

  // -- sequence packing (concat-and-split) -------------------------------------
  // GPT-style training batches: documents are concatenated in a fixed order
  // and split into fixed-length sequences; each doc's global token offset
  // determines which sequence(s) it lands in and where. The offset is the
  // classic "needs a global cumsum" — computed by operators.PrefixSum's
  // two-phase scan (one range shuffle + two passes), NOT by the
  // single-partition `Window.orderBy` collapse.
  private val PackSeqLen = 256L

  private def packSequences(s: SparkSession, dir: String): DataFrame = {
    val nt = docs(s, dir)
      .select(col("doc_id"), size(tokensExpr).cast("long").as("n_tokens"))
    graft.operators.PrefixSum.exclusive(nt, "doc_id", "n_tokens", "offset")
      .select(col("doc_id"), col("n_tokens"), col("offset"),
        expr(s"offset div $PackSeqLen").as("seq_first"),
        greatest(expr(s"offset div $PackSeqLen"),
          expr(s"(offset + n_tokens - 1) div $PackSeqLen")).as("seq_last"),
        expr(s"offset % $PackSeqLen").as("pos_in_seq"))
      .orderBy("doc_id")
  }

  // -- bin packing (first-fit-decreasing) --------------------------------------
  /** SFT-style sequence packing: unlike [[packSequences]] (GPT concat-and-
    * split, where documents cross sequence boundaries), each document here
    * stays intact and greedy first-fit-decreasing assigns it to the first
    * training sequence ("bin") with room — minimal padding without cross-doc
    * attention contamination. FFD's sequential fold is confined to a bounded
    * hash-group: docs shuffle ONCE on grp = doc_id % G, each group sorts by
    * (len desc, id) and folds independently inside a codegen'd `aggregate`
    * HOF — at 100 TB, G grows with the corpus so a group stays ~10^3-10^4
    * docs and the only trade vs global FFD is a little packing efficiency.
    * Docs longer than the capacity are truncated to it (the standard
    * packing-pipeline convention).
    */
  private val PackGroups = 8L

  private def packFfd(s: SparkSession, dir: String): DataFrame = {
    val L = PackSeqLen
    val items = docs(s, dir)
      .select(col("doc_id"), expr(s"doc_id % $PackGroups").as("grp"),
        least(size(tokensExpr).cast("long"), lit(L)).as("len"))
      .groupBy("grp")
      // struct(-len, doc_id): array_sort's lexicographic struct order IS
      // (len desc, id asc); len rides along for the fold
      .agg(expr("array_sort(collect_list(struct(-len as nl, doc_id, len)))")
        .as("items"))
    // first bin (1-based) the item fits into; 0 = none, open a new bin.
    // No let-binding in SQL lambdas, so P is recomputed where used — each
    // use is one O(bins) pass, keeping the fold O(items × bins) per group
    // (an indexed-transform rewrite of fills would hide an O(bins²) term:
    // the position recomputed per element). Beyond ~10^4 docs/group, a
    // custom Aggregator with a fenwick/segment tree over bin headroom is
    // the next step; at the designed group size the HOF fold is plenty.
    val P = s"array_position(transform(acc.fills, f -> f + it.len <= ${L}L), true)"
    val fold =
      s"""aggregate(
         |  items,
         |  named_struct('fills', slice(array(0L), 1, 0),
         |               'bins',  slice(array(0L), 1, 0)),
         |  (acc, it) -> named_struct(
         |    'fills', if($P > 0,
         |        concat(
         |          slice(acc.fills, 1, cast($P as int) - 1),
         |          array(element_at(acc.fills, cast($P as int)) + it.len),
         |          slice(acc.fills, cast($P as int) + 1,
         |            size(acc.fills) - cast($P as int))),
         |        concat(acc.fills, array(it.len))),
         |    'bins', concat(acc.bins,
         |        array(if($P > 0, $P, cast(size(acc.fills) as bigint) + 1L)))))""".stripMargin
    items
      .withColumn("bins", expr(fold + ".bins"))
      .select(col("grp"), posexplode(arrays_zip(col("items"), col("bins"))))
      .select(col("col.items.doc_id").as("doc_id"), col("grp"),
        col("col.items.len").as("len"), col("col.bins").as("bin"))
      .orderBy("doc_id")
  }

  // -- SFT chat-template rendering with loss masks -----------------------------
  /** Instruction-tuning example assembly: consecutive documents within a
    * (source, lang) stream become alternating user/assistant turns of a
    * 4-turn conversation, rendered through a chat template, with the
    * character spans the loss is computed over (the assistant contents)
    * emitted as offset arrays — the mask a tokenizer-side consumer shifts
    * into token space. Everything is one window pass + one grouped
    * aggregation: per-turn offsets come from a running sum over the turn
    * order (partitioned by conversation — thousands of independent keys,
    * never a global Window), the rendered text from an ordered array fold.
    * A trailing un-answered user turn is dropped (count floored to even);
    * the rendered transcript is emitted as md5 + length, not the full
    * string — the gate needs identity, not a second copy of the corpus.
    */
  private def sftRender(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRn = Window.partitionBy("source", "lang").orderBy("doc_id")
    val base = docs(s, dir)
      .select(col("source"), col("lang"), col("doc_id"), col("text"))
      .withColumn("rn", row_number().over(wRn).cast("long") - 1L)
      .withColumn("conv_no", expr("rn div 4"))
      .withColumn("turn", expr("rn % 4"))
    val wCnt = Window.partitionBy("source", "lang", "conv_no")
    val kept = base
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .filter(col("turn") < col("cnt") - (col("cnt") % 2))
      .withColumn("marker",
        when(col("turn") % 2 === 0, lit("<|user|>\n"))
          .otherwise(lit("<|assistant|>\n")))
      .withColumn("turn_render",
        concat(col("marker"), col("text"), lit("<|end|>\n")))
    val wCum = Window.partitionBy("source", "lang", "conv_no").orderBy("turn")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = kept
      .withColumn("prev_cum",
        coalesce(sum(length(col("turn_render")).cast("long")).over(wCum),
          lit(0L)))
      .withColumn("c_start", col("prev_cum") + length(col("marker")).cast("long"))
      .withColumn("c_end", col("c_start") + length(col("text")).cast("long"))
    off.groupBy("source", "lang", "conv_no")
      .agg(
        min("doc_id").as("conv_id"),
        count(lit(1)).as("n_turns"),
        md5(expr("array_join(transform(array_sort(collect_list(" +
          "struct(turn, turn_render))), x -> x.turn_render), '')"))
          .as("rendered_md5"),
        sum(length(col("turn_render")).cast("long")).as("n_chars"),
        // comma-joined rather than ARRAY<BIGINT>: the information is
        // unchanged (a tokenizer-side consumer split(',')s it back), and a
        // flat string is hashable by any downstream row-sorting harness —
        // the r7 driver's pandas lexsort crashed on the array column.
        expr("array_join(transform(filter(array_sort(collect_list(struct(" +
          "turn, c_start, c_end))), x -> x.turn % 2 = 1)," +
          " x -> cast(x.c_start as string)), ',')").as("mask_starts"),
        expr("array_join(transform(filter(array_sort(collect_list(struct(" +
          "turn, c_start, c_end))), x -> x.turn % 2 = 1)," +
          " x -> cast(x.c_end as string)), ',')").as("mask_ends"),
        sum(when(col("turn") % 2 === 1, length(col("text")).cast("long"))
          .otherwise(0L)).as("loss_chars"))
      .orderBy("source", "lang", "conv_no")
  }

  // -- DSIR-style importance weighting ----------------------------------------
  /** Data selection via importance resampling (hashed n-gram flavor): score
    * each document by how target-domain-like its token distribution is.
    * Tokens hash into 64 buckets; the weight of bucket b is the smoothed
    * target/corpus frequency RATIO (t_b·R)/(r_b·T) — the rational form, not
    * the usual log-ratio sum, because ln() is the one op whose last bit
    * differs across libms while integer products < 2^53 and one division
    * are IEEE-exact on both engines. A document's score is the
    * token-weighted mean of its buckets' ratios, folded in bucket order so
    * the double sum is order-fixed. Shape at scale: one (doc,bucket) count
    * shuffle; the 64-row weight table and the 1-row totals broadcast back;
    * the target distribution rides the same counts (no second corpus
    * pass). Here the target domain is the `src0` slice; production swaps
    * in any curated target sample.
    */
  private def dsirWeight(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), col("source"), explode(tokensExpr).as("tok"))
      .withColumn("b",
        graft.functions.Md5BitsFunctions.md5Bits(col("tok"), 1, 8) % 64)
    // read three times (corpus counts, target counts, per-doc score)
    val perDoc = toks.groupBy("doc_id", "source", "b")
      .agg(count(lit(1)).as("c")).persist()
    perDoc.count() // eager fill (§3): target/corpus sides broadcast below
    val corpus = perDoc.groupBy("b").agg((sum(col("c")) + lit(1L)).as("r1"))
    val target = perDoc.filter(col("source") === "src0")
      .groupBy(col("b").as("tb")).agg(sum(col("c")).as("tc"))
    val w = corpus.join(target, col("b") === col("tb"), "left_outer")
      .select(col("b"), col("r1"), (coalesce(col("tc"), lit(0L)) + lit(1L)).as("t1"))
    val tot = w.agg(sum("r1").as("rr"), sum("t1").as("tt"))
    val wd = w.crossJoin(broadcast(tot))
      .select(col("b"), ((col("t1") * col("rr")).cast("double") /
        (col("r1") * col("tt")).cast("double")).as("wb"))
    perDoc.join(broadcast(wd), Seq("b"))
      .withColumn("cw", col("c").cast("double") * col("wb"))
      .groupBy("doc_id", "source")
      .agg(sum(col("c")).as("n_toks"),
        expr("aggregate(array_sort(collect_list(struct(b, cw))), " +
          "cast(0 as double), (acc, x) -> acc + x.cw)").as("score"))
      .select(col("doc_id"), col("source"), col("n_toks"),
        round(col("score") / col("n_toks").cast("double"), 6).as("dsir_r"))
      .orderBy("doc_id")
  }

  // -- deterministic global shuffle --------------------------------------------
  // Every training epoch needs a reproducible random permutation of the
  // corpus. Key = md5 of (epoch salt, doc_id) — the permutation is a pure
  // function of the salt, stable under retries and re-partitioning; the
  // dense position comes from the same two-phase prefix scan (value = 1),
  // again avoiding the global-Window single-partition trap. At 100 TB the
  // position column is what a downstream loader range-reads by.
  private def shuffleDocs(s: SparkSession, dir: String): DataFrame = {
    val keyed = docs(s, dir)
      .select(col("doc_id"),
        md5(concat(lit("epoch1:"), col("doc_id").cast("string"))).as("shuffle_key"))
      .withColumn("one", lit(1L))
    graft.operators.PrefixSum.exclusive(keyed, "shuffle_key", "one", "pos")
      .select(col("doc_id"), col("shuffle_key"), col("pos"))
      .orderBy("pos")
  }

  /** Paragraph granularity for corpus-wide document rewriting: this corpus
    * has no newline structure, so "paragraphs" are aligned ParaTokens-token
    * blocks — on a real web corpus only the splitter changes (split on
    * "\n\n" instead of re-blocking), the plan is identical.
    */
  private[queries] val ParaTokens = 8

  // -- paragraph-level exact dedup (corpus-wide document REWRITING) -----------
  // The RefinedWeb/Falcon paragraph-dedup step: every occurrence of a
  // paragraph AFTER its global first (first = min (doc_id, pidx)) is removed
  // from its document, survivors re-assemble in position order, and docs
  // left empty are dropped. Distinct from the span INVENTORY ops
  // (d_dedup_spans reports duplicated windows; this rewrites documents).
  // Scale shape: one corpus-linear paragraph explode; first-occurrence =
  // ONE hash-partitioned min(struct) agg on the paragraph hash (never a
  // window over the corpus); survivors join back on the same hash; the
  // rebuild groups by doc_id, where the collected list is bounded by a
  // single document's own paragraph count.
  private def dedupParagraph(s: SparkSession, dir: String): DataFrame = {
    val paras = docs(s, dir)
      .select(col("doc_id"), tokensExpr.as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast((size(toks) - 1) div $ParaTokens as int)), " +
          s"p -> concat_ws(' ', slice(toks, p * $ParaTokens + 1, $ParaTokens)))"))
        .as(Seq("pidx", "para")))
    val firsts = paras.groupBy(md5(col("para")).as("ph"))
      .agg(min(struct(col("doc_id"), col("pidx"))).as("first"))
    val marked = paras.withColumn("ph", md5(col("para")))
      .join(firsts, Seq("ph"))
      .withColumn("keep", col("first.doc_id") === col("doc_id") &&
        col("first.pidx") === col("pidx"))
    marked.groupBy("doc_id")
      .agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips the nulls from if(NOT keep): only survivors
        // ride into the rebuilt text, in pidx order
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(if(keep, struct(pidx, para), null))), " +
            "x -> x.para)"))).as("text_hash"))
      .filter(col("n_kept") > 0)
      .orderBy("doc_id")
  }

  /** Additive-smoothing alphabet size for the char-trigram LM — a fixed
    * byte-alphabet constant (not a corpus-derived distinct-char count), so
    * the smoothing term is scale-invariant and needs no extra corpus pass.
    */
  private[queries] val CharVocab = 128

  // -- char-trigram LM predictability score (the CCNet/KenLM-filter shape) ----
  // The classic LM quality filter scores each document by how predictable
  // its characters are under a model trained on the corpus itself. Counts:
  // ONE corpus-linear position explode feeds two aggregations whose
  // cardinality is bounded by alphabet³ regardless of corpus size, so both
  // count tables broadcast back and SCORING adds no shuffle. Per-position
  // conditional probability p(c_i | c_{i-2} c_{i-1}) = (C3+1)/(C2+128)
  // (add-one smoothing over the byte alphabet); the document score is the
  // MEAN conditional probability via a position-ordered fold — not a
  // log-perplexity, because ln() is the one operation whose last bit libm
  // implementations disagree on (see d_bm25); the mean-p spelling keeps
  // the gate bit-exact and still ranks predictable text above noise.
  private def charLm(s: SparkSession, dir: String): DataFrame = {
    // trigrams are cut INSIDE the generator (text is a bound attribute
    // read, free per lambda element) so the exploded rows carry 3 chars,
    // not the whole document — exploding positions and substring-ing
    // afterwards dragged the full text onto all ~n_chars rows per doc
    // (measured 2.9s → 0.4s on the scan at sf0.1)
    // repartition BEFORE the ~n_chars× expansion: the generator's input is
    // compact (one row per doc) and may arrive in far fewer partitions
    // than cores (a single small file ⇒ one task running the whole
    // explode-and-join pipeline serially — measured 5.4s single-core vs
    // sub-second wide at sf0.1); the skinny pre-explode shuffle is cheap
    // at every scale and the broadcast joins after it need no exchange
    // (the explicit partition count keeps AQE from coalescing the
    // pre-expansion shuffle back to one partition — the input is tiny by
    // BYTES, which is exactly why it must be spread by ROWS)
    val tg = docs(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, length(text) - 2), j -> substring(text, j, 3))"))
        .as(Seq("pos0", "t")))
      .select(col("doc_id"), (col("pos0") + 1).as("i"), col("t"))
    val c3 = tg.groupBy("t").agg(count(lit(1)).as("c3"))
    // the context (2-char-prefix) counts roll up from the trigram counts —
    // a vocabulary-sized aggregation instead of a second corpus scan; the
    // values are exactly the per-prefix trigram-row counts either way
    val c2 = c3.groupBy(expr("substring(t, 1, 2)").as("b"))
      .agg(sum(col("c3")).as("c2"))
    tg.join(broadcast(c3), Seq("t"))
      .withColumn("b", expr("substring(t, 1, 2)"))
      .join(broadcast(c2), Seq("b"))
      .withColumn("p", (col("c3") + lit(1)).cast("double") /
        (col("c2") + lit(CharVocab)).cast("double"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_pos"),
        expr("aggregate(transform(array_sort(collect_list(struct(i, p))), " +
          "x -> x.p), cast(0 as double), (a, x) -> a + x)").as("psum"))
      .select(col("doc_id"), col("n_pos"),
        (col("psum") / col("n_pos").cast("double")).as("avg_p"))
      .orderBy("doc_id")
  }

  // -- CCNet-style LM quality buckets (head/middle/tail per language) ---------
  // The canonical downstream use of the LM filter: within each language,
  // rank documents by the char-trigram predictability score and cut the
  // ranking into thirds — head (most predictable), middle, tail. The
  // cutoffs are pure integer rank arithmetic (rn·3 vs n), so the split is
  // reproducible to the row. Ranks come from the two-phase PrefixSum scan
  // ordered by (lang, score desc, doc_id) — NOT a per-language Window: a
  // language is a handful of giant partitions at corpus scale, and a
  // partitioned sort over them is the single-partition trap in disguise.
  // Per-language offsets/counts are a #languages-row aggregate broadcast
  // back onto the positioned rows.
  private def lmBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("lang"))
      .join(charLm(s, dir).select(col("doc_id"), col("avg_p")), Seq("doc_id"))
      .withColumn("one", lit(1L))
    val pos = graft.operators.PrefixSum.exclusive(d,
      Seq(col("lang"), col("avg_p").desc, col("doc_id")), "one", "pos", 0)
    val offsets = pos.groupBy("lang")
      .agg(min(col("pos")).as("p0"), count(lit(1)).as("n"))
    pos.join(broadcast(offsets), Seq("lang"))
      .withColumn("rn", col("pos") - col("p0") + 1)
      .withColumn("bucket",
        when(col("rn") * 3 <= col("n"), lit("head"))
          .when(col("rn") * 3 <= col("n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("avg_p"), col("bucket"))
      .orderBy("doc_id")
  }

  // -- incremental (cross-snapshot) MinHash dedup -----------------------------
  // An incoming batch (doc_id % 10 == 9 — an sf-independent split) is
  // deduped against the accepted corpus AND itself: a candidate shares an
  // LSH band with the state or with an earlier-id batch doc, passes the
  // exact-Jaccard ≥ 0.7 verify, and keeps the best match (jaccard desc,
  // earliest old id). Scale shape: the small batch side BROADCASTS,
  // so the accepted-corpus band index is scanned in place and never
  // shuffled — per-batch cost O(batch + matches), not O(|state|).
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val isBatch = col("doc_id") % 10 === 9
    val prep = minhashPrep(docs(s, dir).select(col("doc_id"), col("text")))
    val bands = minhashBandsOf(prep)
    val nb = bands.filter(isBatch)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("new_id"))
    val oldSide = bands.filter(!isBatch)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("old_id"))
    val batchSide = bands.filter(isBatch)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("old_id"))
    val vsState = oldSide.join(broadcast(nb), Seq("band_idx", "band_hash"))
    val vsBatch = batchSide.join(broadcast(nb), Seq("band_idx", "band_hash"))
      .filter(col("old_id") < col("new_id"))
    val cand = vsState.unionByName(vsBatch).select("new_id", "old_id").distinct()
    val sets = prep.select(col("doc_id"), col("ss"))
    val verified = cand
      .join(sets.select(col("doc_id").as("new_id"), col("ss").as("a_ss")), Seq("new_id"))
      .join(sets.select(col("doc_id").as("old_id"), col("ss").as("b_ss")), Seq("old_id"))
      .withColumn("n_common", size(array_intersect(col("a_ss"), col("b_ss"))).cast("long"))
      .withColumn("n_union",
        (size(col("a_ss")) + size(col("b_ss"))).cast("long") - col("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= 0.7)
    val w = Window.partitionBy("new_id").orderBy(col("jaccard").desc, col("old_id"))
    val best = verified.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("new_id").as("doc_id"), col("old_id").as("dup_of"), col("jaccard"))
    docs(s, dir).filter(isBatch).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .withColumn("is_dup", col("dup_of").isNotNull)
      .orderBy("doc_id")
  }

  // -- positional-postings phrase search --------------------------------------
  // Corpus-wide multi-word phrase retrieval the way a search index answers
  // it — NOT a substring scan: tokens become (doc, pos) postings, a
  // broadcast terms table keeps only the phrases' words (the selective
  // index-lookup prefilter), and a match is ALL of a phrase's offsets
  // agreeing on one base position, found by ONE (phrase, doc, base)
  // aggregation. Cost scales with the matched terms' posting lists, never
  // with corpus size, and phrase length adds zero extra joins (the
  // k-1-self-joins spelling would). Phrases are fixture constants chosen
  // for real support in the synthetic corpus (48/46/8 raw term windows).
  private val Phrases = Seq("table hash", "part filter", "slow hash batch")

  private[queries] val phraseTermsSql: String = Phrases.flatMap { p =>
    val ws = p.split(" ")
    ws.zipWithIndex.map { case (w, i) => s"('$p', '$w', $i, ${ws.length})" }
  }.mkString(", ")

  private lazy val phraseSearchSql: String =
    s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |t AS (SELECT doc_id, unnest(toks) AS tok,
       |    (generate_subscripts(toks, 1) - 1)::BIGINT AS pos FROM d),
       |terms(phrase, tok, off, plen) AS (VALUES $phraseTermsSql),
       |h AS (SELECT terms.phrase, t.doc_id, t.pos - terms.off AS base,
       |    terms.off, terms.plen
       |  FROM t JOIN terms USING (tok) WHERE t.pos - terms.off >= 0),
       |m AS (SELECT phrase, doc_id, base FROM h
       |  GROUP BY phrase, doc_id, base, plen HAVING COUNT(DISTINCT off) = plen)
       |SELECT phrase, doc_id, COUNT(*)::BIGINT AS n_matches,
       |  MIN(base)::BIGINT AS first_pos
       |FROM m GROUP BY 1, 2 ORDER BY phrase, doc_id""".stripMargin

  private def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    val postings = docs(s, dir)
      .select(col("doc_id"), posexplode(tokensExpr).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    graft.operators.TermIndex.matchPhrases(postings,
      graft.operators.TermIndex.termsOf(s, Phrases))
  }

  // Same query served from the WRITTEN inverted index (operators/TermIndex
  // — postings partitioned by term-hash bucket, probe pruned to the query
  // terms' buckets): the build-once/serve-many path a retrieval corpus
  // runs at 100 TB. Byte-identical to d_phrase_search by the shared
  // matcher; the gate runs both against the same oracle, the spec pins
  // the partition pruning.
  private def phraseIndexed(s: SparkSession, dir: String): DataFrame = {
    val idx = FixtureArtifacts.cached("term-index", dir)(
      graft.operators.TermIndex.build(s, docs(s, dir), _))
    graft.operators.TermIndex.phraseSearch(s, idx, Phrases)
  }

  // -- wire-format fidelity: JSONL / CSV roundtrips ----------------------------
  // Real corpora arrive as JSONL (and occasionally CSV); the ingest
  // question is never "can Spark read it" but "does free text survive the
  // trip byte-for-byte". Each gate writes the documents table in the wire
  // format, reads it back with an EXPLICIT schema (inference drift is a
  // silent corruptor), and hashes the text — the oracle reads the original
  // parquet, so any escaping/encoding loss flips the md5. The CSV fixture
  // is salted with a deliberately hostile row (embedded comma, double
  // quotes, a literal newline) because the synthetic corpus alone would
  // let a broken quoting config pass.
  private def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val tmp = FixtureArtifacts.cached("jsonl", dir)(
      d.write.mode("overwrite").json(_))
    s.read.schema(d.schema).json(tmp)
      .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"),
        col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  private val CsvHostileText =
    " comma, \"quote\" and\nnewline \\ backslash "

  private def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val hostile = d.limit(1).select(lit(-1L).as("doc_id"),
      lit(CsvHostileText).as("text"), lit("en").as("lang"),
      lit("src0").as("source"),
      lit(CsvHostileText.length.toLong).as("n_chars"))
    // ignore*WhiteSpace default TRUE on the CSV WRITER (reader defaults
    // false) — without pinning them, edge whitespace is silently trimmed
    // on write and the "byte-for-byte" contract is a lie; the hostile row
    // carries leading AND trailing spaces to keep this honest
    val tmp = FixtureArtifacts.cached("csv", dir)(
      d.unionByName(hostile).write.mode("overwrite")
        .option("quote", "\"").option("escape", "\"")
        .option("ignoreLeadingWhiteSpace", false)
        .option("ignoreTrailingWhiteSpace", false)
        .csv(_))
    s.read.schema(d.schema)
      .option("quote", "\"").option("escape", "\"").option("multiLine", true)
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .csv(tmp)
      .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"),
        col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  // -- SymSpell fuzzy term matching -------------------------------------------
  // Spell-tolerant term lookup for the retrieval stack: a query term
  // matches a vocabulary term at edit distance ≤ 1 iff their 1-deletion
  // neighborhoods intersect (the SymSpell lemma: equal → share self,
  // insert/delete → one lies in the other's set, substitute → both
  // contain the string with that position deleted) — so candidates meet
  // in an EQUI join on the deletion variant, never an all-pairs distance
  // scan, and the Levenshtein verify only prices the candidates. The
  // shared-variant block overshoots to distance 2 ("ab"/"ba" share "a"),
  // which is exactly why the verify stays; the ORACLE is the naive
  // all-pairs truth, so the gate proves the blocking lossless. Queries
  // are deterministic typos (2nd char dropped from every ≥4-char vocab
  // word). At 100 TB the variant explosion is ×(len+1) on the VOCABULARY
  // (not the corpus) — the classic SymSpell space-for-time trade.
  private def fuzzyTerm(s: SparkSession, dir: String): DataFrame = {
    val vocabulary = docs(s, dir)
      .select(explode(tokensExpr).as("tok")).distinct()
    def withVariants(df: DataFrame, c: String): DataFrame = df
      .select(col(c), explode(expr(
        s"array_distinct(concat(array($c), " +
          s"transform(sequence(1, length($c)), i -> " +
          s"concat(substring($c, 1, i - 1), substring($c, i + 1, length($c))))))"))
        .as("variant"))
    val queries = vocabulary.filter(length(col("tok")) >= 4)
      .select(concat(substring(col("tok"), 1, 1), expr("substring(tok, 3)"))
        .as("q"))
      .distinct()
    withVariants(queries, "q")
      .join(withVariants(vocabulary, "tok"), Seq("variant"))
      .select("q", "tok").distinct()
      .withColumn("dist", levenshtein(col("q"), col("tok")).cast("long"))
      .filter(col("dist") <= 1)
      .orderBy("q", "tok")
  }

  // -- LLM-watermark detection ------------------------------------------------
  // Synthetic-data provenance screen (the Kirchenbauer green-list test): a
  // watermarking sampler biases each next token toward a pseudo-random
  // "green" quarter of the vocabulary keyed on the previous token, so
  // watermarked text shows a green-transition fraction far above the γ=1/4
  // null rate. Per doc: count green transitions with the fused md5 hash,
  // z-score against Binomial(m, γ), flag z > 4. Everything rides the scan
  // (the transition fold is one codegen'd HOF per row — no shuffle at any
  // corpus size); the z is one IEEE tree over exact integer counts
  // (γ = 0.25 and γ(1−γ) = 0.1875 are exact binary fractions).
  // The corpus is salted with deterministic watermarked variants
  // (doc_id + 200000, a repeated tail of the bidirectionally-green bigram
  // "the line"): the gate proves exactly the salted docs flag — real
  // detection power, not just parity (orig max z ≈ 3.3, variants ≥ 8.3).
  private def watermarkDetect(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val variants = base.filter(expr("doc_id % 20 = 0"))
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(col("text"), expr("repeat(' the line', 30)")).as("text"))
    base.union(variants)
      .withColumn("toks", tokensExpr)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), (size(col("toks")) - 1).cast("long").as("n_trans"),
        expr("aggregate(sequence(2, size(toks)), 0L, (a, i) -> a + " +
          "if(md5_bits(concat(element_at(toks, i - 1), ':', element_at(toks, i)), 1, 8) % 4 = 0, 1L, 0L))")
          .as("n_green"))
      .withColumn("z_r", round(
        (col("n_green").cast("double") - lit(0.25) * col("n_trans").cast("double")) /
          sqrt(lit(0.1875) * col("n_trans").cast("double")), 6))
      .withColumn("watermarked", when(col("z_r") > 4.0, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  val queries: Map[String, QueryFn] = Map(
    "d_dedup_exact"       -> (dedupExact _),
    "d_dedup_fingerprint" -> (dedupFingerprint _),
    "d_dedup_ngram"       -> (dedupNgram _),
    "d_dedup_ngram_prefix" -> (dedupNgramPrefix _),
    "d_dedup_prefix_zipf" -> (dedupPrefixZipf _),
    "d_dedup_minhash"     -> (dedupMinHash _),
    "d_rouge_pairs"       -> (rougePairs _),
    "d_rouge_zipf"        -> (rougeZipf _),
    "d_dedup_simhash"     -> (dedupSimHash _),
    "d_dedup_clusters"    -> (dedupClusters _),
    "d_dedup_combined"    -> (dedupCombined _),
    "d_dedup_keep_best"   -> (dedupKeepBest _),
    "d_dedup_spans"       -> (dedupSpans _),
    "d_dup_ratio"         -> (dupRatio _),
    "d_dup_spans_merged"  -> (dupSpansMerged _),
    "d_decontaminate"     -> (decontaminate _),
    "d_token_stats"       -> (tokenStats _),
    "d_fingerprint_roll"  -> (fingerprintRolling _),
    "d_bpe_tokens"        -> (bpeTokens _),
    "d_chunks"            -> (chunkDocs _),
    "d_chunks_cdc"        -> (chunkCdc _),
    "d_corpus_pipeline"   -> (corpusPipeline _),
    "d_quality"           -> (quality _),
    "d_repetition"        -> (repetition _),
    "d_pii_scrub"         -> (piiScrubCustomer _),
    "d_normalize"         -> (normalizeNfc _),
    "d_fold_accents"      -> (foldAccents _),
    "d_preference_pairs"  -> (preferencePairs _),
    "d_quantile_sketch"   -> (quantileSketch _),
    "d_split_exact"       -> (splitExact _),
    "d_batch_buckets"     -> (batchBuckets _),
    "d_decontam_fuzzy"    -> (decontaminateFuzzy _),
    "d_sample_estimate"   -> (sampleEstimate _),
    "d_validate"          -> (validateContract _),
    "d_distinct_overlap"  -> (distinctOverlap _),
    "d_token_fertility"   -> (tokenFertility _),
    "d_trim_spans"        -> (trimSpans _),
    "d_lang_id"           -> (langId _),
    "d_mix_weighted"      -> (mixWeighted _),
    "d_mix_temperature"   -> (mixTemperature _),
    "d_sample_per_class"  -> (samplePerClass _),
    "d_distinct_kmv"      -> (distinctKmv _),
    "d_distinct_kmv_agg"  -> (distinctKmvAgg _),
    "d_distinct_hll"      -> (distinctHll _),
    "d_domain_cap"        -> (domainCap _),
    "d_curriculum"        -> (curriculum _),
    "d_snapshot_diff"     -> (snapshotDiff _),
    "d_drift_chi2"        -> (driftChi2 _),
    "d_sample_weighted"   -> (sampleWeighted _),
    "d_quality_gate_rel"  -> (qualityGateRel _),
    "d_sample_pps"        -> (samplePps _),
    "d_winsorize"         -> (winsorize _),
    "d_split"             -> (splitDocs _),
    "d_split_leakage_safe" -> (splitLeakageSafe _),
    "d_bradley_terry"     -> (bradleyTerry _),
    "d_top_terms"         -> (topTerms _),
    "d_profile"           -> (profileDocs _),
    "d_release_manifest"  -> (releaseManifest _),
    "d_cms_heavy"         -> (cmsHeavy _),
    "d_span_corrupt"      -> (spanCorrupt _),
    "d_fim_split"         -> (fimSplit _),
    "d_quantile_norm"     -> (quantileNorm _),
    "d_minhash_audit"     -> (minhashAudit _),
    "d_sparse_cosine"     -> (sparseCosine _),
    "d_sparse_cosine_frac" -> (sparseCosineFrac _),
    "d_collocations"      -> (collocations _),
    "d_bigram_coverage"   -> (bigramCoverage _),
    "d_bm25"              -> (bm25 _),
    "d_vocab"             -> (vocab _),
    "d_source_report"     -> (sourceReport _),
    "d_bpe_merges"        -> (bpeMerges _),
    "d_bpe_encode"        -> (bpeEncode _),
    "d_budget_select"     -> (budgetSelect _),
    "d_pack_sequences"    -> (packSequences _),
    "d_pack_ffd"          -> (packFfd _),
    "d_sft_render"        -> (sftRender _),
    "d_dsir_weight"       -> (dsirWeight _),
    "d_shuffle"           -> (shuffleDocs _),
    "d_dedup_paragraph"   -> (dedupParagraph _),
    "d_char_lm"           -> (charLm _),
    "d_lm_buckets"        -> (lmBuckets _),
    "d_dedup_incremental" -> (dedupIncremental _),
    "m_binary_meta"       -> (binaryMeta _),
    "d_phrase_search"     -> (phraseSearch _),
    "d_phrase_indexed"    -> (phraseIndexed _),
    "d_search_bm25"       -> (searchBm25 _),
    "d_retrieval_eval"    -> (retrievalEval _),
    "d_retrieval_eval_zipf" -> (retrievalEvalZipf _),
    "d_calibration"       -> (calibrationBins _),
    "d_search_bool"       -> (searchBool _),
    "d_search_near"       -> (searchNear _),
    "d_phrase_kwic"       -> (phraseKwic _),
    "d_fuzzy_term"        -> (fuzzyTerm _),
    "d_quality_classifier" -> (qualityClassifier _),
    "d_jsonl_roundtrip"   -> (jsonlRoundtrip _),
    "d_csv_roundtrip"     -> (csvRoundtrip _),
    "d_watermark_detect"  -> (watermarkDetect _)
  )

  /** Shared CTE chain: word-trigram shingles → MinHash bands → verified
    * candidate pairs (used by the minhash oracle and the cluster oracle). */
  /** Shared by d_distinct_kmv (TopK spelling) and d_distinct_kmv_agg
    * (custom Aggregator spelling) — the two must agree bit-for-bit.
    */
  private val kmvOracleSql =
    """WITH toks AS (
      |  SELECT DISTINCT source, tok FROM (
      |    SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS tok
      |    FROM documents)),
      |h AS (SELECT source, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
      |kth AS (SELECT source, h AS hk FROM (
      |  SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk FROM h)
      |  WHERE rk = 256),
      |exact AS (SELECT source, COUNT(*) AS n_exact FROM h GROUP BY 1)
      |SELECT e.source AS source, n_exact,
      |  CASE WHEN hk IS NULL THEN CAST(n_exact AS DOUBLE)
      |       ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(hk AS DOUBLE)
      |  END AS est_distinct
      |FROM exact e LEFT JOIN kth ON e.source = kth.source
      |ORDER BY e.source""".stripMargin

  /** MinHash CTE prefix: shingle sets + LSH bands for every document (shared
    * by the all-pairs chain below and the incremental-dedup oracle). */
  private val minhashBandCtes =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
      |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS ss
      |  FROM tk),
      |bm AS (SELECT doc_id, ss,
      |  list_transform(ss, s ->
      |    ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS hs
      |  FROM sh),
      |sig AS (SELECT doc_id, ss,
      |  list_transform(generate_series(0, 11), i ->
      |    list_min(list_transform(hs, h ->
      |      ([MINHASH_A][i + 1] * h + [MINHASH_B][i + 1]) % 2147483647))) AS sg
      |  FROM bm),
      |bands AS (SELECT doc_id, b,
      |  md5(sg[3*b + 1]::VARCHAR || '|' || sg[3*b + 2]::VARCHAR || '|' || sg[3*b + 3]::VARCHAR) AS band_hash
      |  FROM sig, unnest(generate_series(0, 3)) AS t(b))""".stripMargin
      .replace("[MINHASH_A]", MinhashA.mkString("[", ", ", "]"))
      .replace("[MINHASH_B]", MinhashB.mkString("[", ", ", "]"))

  private val minhashCtes =
    s"""$minhashBandCtes,
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      |minv AS (SELECT doc_id, unnest(ss) AS s FROM sh),
      |mlens AS (SELECT doc_id, len(ss)::BIGINT AS nss FROM sh),
      |scored AS (SELECT c.a_id, c.b_id, count(*)::BIGINT AS n_common,
      |  (any_value(la.nss) + any_value(lb.nss) - count(*))::BIGINT AS n_union
      |  FROM cand c
      |  JOIN minv ia ON ia.doc_id = c.a_id
      |  JOIN minv ib ON ib.doc_id = c.b_id AND ib.s = ia.s
      |  JOIN mlens la ON la.doc_id = c.a_id
      |  JOIN mlens lb ON lb.doc_id = c.b_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Unrolled Bradley-Terry MM iterations — the exact DuckDB mirror of the
    * Spark loop in [[bradleyTerry]]: same deterministic tournament, same
    * BIGINT-quantized denominators, same 1e-9 strength grid per iteration.
    */
  private lazy val btCtes: String = {
    val iters = (1 to BtIters).map { k =>
      s"""den$k AS (SELECT s.source,
         |    sum(CAST(floor(1e9 / (p1.p + p2.p)) AS BIGINT))::BIGINT AS den
         |  FROM sides s JOIN it${k - 1} p1 ON s.source = p1.source
         |    JOIN it${k - 1} p2 ON s.opp = p2.source GROUP BY 1),
         |it$k AS (SELECT b.source,
         |    CASE WHEN d.den IS NULL THEN it.p
         |      ELSE floor(greatest(CAST(b.wins AS DOUBLE) * 1e9
         |        / CAST(d.den AS DOUBLE), 1e-6) * 1e9 + 0.5) / 1e9 END AS p
         |  FROM base b JOIN it${k - 1} it ON b.source = it.source
         |    LEFT JOIN den$k d ON b.source = d.source)""".stripMargin
    }.mkString(",\n")
    s"""totals AS (SELECT lang, source, sum(n_chars)::BIGINT AS w
       |  FROM documents GROUP BY 1, 2),
       |m AS (SELECT a.source AS sa, b.source AS sb,
       |    CASE WHEN a.w >= b.w THEN a.source ELSE b.source END AS winner
       |  FROM totals a JOIN totals b
       |    ON a.lang = b.lang AND a.source < b.source),
       |players AS (SELECT DISTINCT source FROM totals),
       |wins AS (SELECT winner AS source, count(*)::BIGINT AS wins
       |  FROM m GROUP BY 1),
       |sides AS (SELECT sa AS source, sb AS opp FROM m
       |  UNION ALL SELECT sb, sa FROM m),
       |nm AS (SELECT source, count(*)::BIGINT AS n_matches
       |  FROM sides GROUP BY 1),
       |base AS (SELECT p.source, coalesce(w.wins, 0)::BIGINT AS wins,
       |    coalesce(nm.n_matches, 0)::BIGINT AS n_matches
       |  FROM players p LEFT JOIN wins w ON p.source = w.source
       |    LEFT JOIN nm ON p.source = nm.source),
       |it0 AS (SELECT source, 1.0::DOUBLE AS p FROM players),
       |$iters""".stripMargin
  }

  private val shingleSql =
    "list_distinct(list_transform(generate_series(1, greatest(len(text) - 4, 1)), " +
      "i -> substr(text, i::INT, 5)))"
  private val tokensSql = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** d_char_lm oracle (also the CTE base of the d_lm_buckets oracle). */
  private val charLmSql =
    s"""WITH pos AS (SELECT doc_id, text,
       |    unnest(generate_series(1, len(text) - 2)) AS i FROM documents),
       |tg AS (SELECT doc_id, i, substr(text, i::INT, 3) AS t,
       |    substr(text, i::INT, 2) AS b FROM pos),
       |c3 AS (SELECT t, count(*)::BIGINT AS c3 FROM tg GROUP BY t),
       |c2 AS (SELECT b, count(*)::BIGINT AS c2 FROM tg GROUP BY b),
       |p AS (SELECT tg.doc_id, tg.i,
       |    (c3.c3 + 1)::DOUBLE / (c2.c2 + $CharVocab)::DOUBLE AS p
       |  FROM tg JOIN c3 USING (t) JOIN c2 USING (b))
       |SELECT doc_id, count(*)::BIGINT AS n_pos,
       |  list_reduce(list_prepend(0.0::DOUBLE, list(p ORDER BY i)),
       |    (a, b) -> a + b) / count(*)::DOUBLE AS avg_p
       |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin
  private val stopSql = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Unrolled BPE trainer CTEs shared by the merges and encode oracles:
    * v0 = char-split word-frequency table, then per iteration a
    * (pair-count, argmax, apply) triple — the exact DuckDB mirror of the
    * Spark loop in [[learnBpeMerges]].
    */
  private lazy val bpeCtes: String = {
    val iters = (1 to BpeIters).map { k =>
      s"""pc$k AS (
         |  SELECT s[i] AS a, s[i + 1] AS b, sum(freq)::BIGINT AS cnt
         |  FROM (SELECT string_split(trim(sy), '  ') AS s, freq FROM v${k - 1}),
         |    unnest(generate_series(1, len(s) - 1)) AS t(i)
         |  GROUP BY 1, 2),
         |top$k AS (SELECT a, b, cnt FROM pc$k ORDER BY cnt DESC, a, b LIMIT 1),
         |v$k AS (SELECT replace(sy, ' ' || a || '  ' || b || ' ',
         |    ' ' || a || b || ' ') AS sy, freq FROM v${k - 1}, top$k)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS (
       |  SELECT '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS sy,
       |    freq
       |  FROM (SELECT w, count(*)::BIGINT AS freq
       |    FROM (SELECT unnest($tokensSql) AS w FROM documents) GROUP BY w)),
       |$iters""".stripMargin
  }

  /** DuckDB mirror of retrievalEvalCore, parameterized by the docs
    * source relation and the query-term list (shared by the sf-corpus
    * and Zipf-fixture gate rows). */
  private def retrievalEvalSql(docsSrc: String, terms: Seq[String]): String = {
    val wList = dcgW.mkString(", ")
    s"""WITH d AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM $docsSrc),
         |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM d),
         |stats AS (SELECT count(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS sum_dl
         |  FROM dl),
         |tq AS (SELECT unnest([${terms.map(t => s"'$t'").mkString(", ")}]) AS term),
         |rf AS (SELECT term, doc_id, tf,
         |    CASE WHEN first_pos <= 10 THEN 2::BIGINT
         |         WHEN first_pos <= 30 THEN 1::BIGINT ELSE 0::BIGINT END AS rel
         |  FROM (SELECT t.term, d.doc_id,
         |      len(list_filter(d.toks, x -> x = t.term))::BIGINT AS tf,
         |      list_position(d.toks, t.term)::BIGINT AS first_pos
         |    FROM d, tq t WHERE list_contains(d.toks, t.term))),
         |dft AS (SELECT term, count(*)::BIGINT AS df_docs FROM rf GROUP BY 1),
         |w AS (SELECT rf.term, rf.doc_id, rf.rel,
         |    floor(((((n_docs::DOUBLE - df_docs::DOUBLE) + 0.5) / (df_docs::DOUBLE + 0.5)) *
         |      ((tf::DOUBLE * 2.2) / (tf::DOUBLE + 1.2 * (0.25 + 0.75 *
         |        (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))) * 1e6 + 0.5) / 1e6 AS w_r
         |  FROM rf JOIN dft USING (term) JOIN dl USING (doc_id), stats),
         |ranked AS (SELECT term, doc_id, rel,
         |    row_number() OVER (PARTITION BY term ORDER BY w_r DESC, doc_id) AS rk
         |  FROM w QUALIFY rk <= 10),
         |wt AS (SELECT term, rel, rk,
         |    ([$wList]::BIGINT[])[rk] AS wgt FROM ranked),
         |dcg AS (SELECT term,
         |    SUM((CASE WHEN rel = 2 THEN 3 WHEN rel = 1 THEN 1 ELSE 0 END) * wgt)::BIGINT AS dcg_i,
         |    MIN(CASE WHEN rel > 0 THEN rk END)::BIGINT AS hit0
         |  FROM wt GROUP BY 1),
         |irk AS (SELECT term, rel,
         |    row_number() OVER (PARTITION BY term ORDER BY rel DESC, doc_id) AS rk
         |  FROM rf WHERE rel > 0 QUALIFY rk <= 10),
         |idcg AS (SELECT term,
         |    SUM((CASE WHEN rel = 2 THEN 3 ELSE 1 END) * ([$wList]::BIGINT[])[rk])::BIGINT AS idcg_i
         |  FROM irk GROUP BY 1),
         |nrel AS (SELECT term, count(*)::BIGINT AS n_rel FROM rf WHERE rel > 0 GROUP BY 1)
         |SELECT tq.term, COALESCE(n.n_rel, 0)::BIGINT AS n_rel,
         |  COALESCE(dc.hit0, 0)::BIGINT AS hit_rank,
         |  CASE WHEN COALESCE(dc.hit0, 0) > 0
         |       THEN (1000000 // dc.hit0)::DOUBLE / 1e6 ELSE 0.0 END AS mrr_r,
         |  CASE WHEN COALESCE(i.idcg_i, 0) > 0
         |       THEN ((dc.dcg_i * 1000000) // i.idcg_i)::DOUBLE / 1e6 ELSE 0.0 END AS ndcg_r
         |FROM tq LEFT JOIN dcg dc USING (term)
         |  LEFT JOIN idcg i USING (term) LEFT JOIN nrel n USING (term)
         |ORDER BY term""".stripMargin
  }

  /** Zipf-fixture PPJoin mirror CTE chain (ends in `scored`) — shared by
    * the lossless set-sim gate row and the power-law ROUGE row. */
  private lazy val zipfScoredCtes: String =
    s"""zdocs AS (SELECT doc_id, text FROM
         |    read_parquet('${graft.sources.ZipfGateFixture.parquetGlob}')),
         |sh AS MATERIALIZED (SELECT doc_id, $shingleSql AS ss FROM zdocs),
         |inv AS MATERIALIZED (SELECT doc_id, unnest(ss) AS s FROM sh),
         |dfs AS (SELECT s, COUNT(*) AS df FROM inv GROUP BY s),
         |lens AS (SELECT doc_id, len(ss)::BIGINT AS nss FROM sh),
         |pfx AS MATERIALIZED (SELECT doc_id, s, rk, nss FROM (
         |  SELECT i.doc_id, i.s, lens.nss,
         |    row_number() OVER (PARTITION BY i.doc_id ORDER BY d.df, i.s)::BIGINT AS rk
         |  FROM inv i JOIN dfs d USING (s) JOIN lens USING (doc_id))
         |  WHERE rk <= nss - (7 * nss + 9) // 10 + 2),
         |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pfx a JOIN pfx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  WHERE 10 * least(a.nss, b.nss) >= 7 * greatest(a.nss, b.nss)
         |  GROUP BY 1, 2
         |  HAVING 17 * (count(*) +
         |      least(max(a.nss) - max(a.rk), max(b.nss) - max(b.rk))) >=
         |    7 * (max(a.nss) + max(b.nss))),
         |scored AS (SELECT c.a_id, c.b_id, count(*)::BIGINT AS n_common,
         |  (any_value(la.nss) + any_value(lb.nss) - count(*))::BIGINT AS n_union
         |  FROM cand c
         |  JOIN inv ia ON ia.doc_id = c.a_id
         |  JOIN inv ib ON ib.doc_id = c.b_id AND ib.s = ia.s
         |  JOIN lens la ON la.doc_id = c.a_id
         |  JOIN lens lb ON lb.doc_id = c.b_id
         |  GROUP BY 1, 2)"""
      .stripMargin

  /** ROUGE-1/2 oracle body (expects a `pairs(a_id, b_id)` CTE in scope),
    * parameterized by the docs source — shared by the sf-corpus and the
    * Zipf-fixture rows. */
  private def rougeBodySql(docsSrc: String): String =
    s"""rtk AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM $docsSrc),
         |u1 AS (SELECT doc_id, unnest(toks) AS g FROM rtk),
         |g1 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM u1 GROUP BY 1, 2),
         |u2 AS (SELECT doc_id,
         |    unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) ELSE
         |      list_transform(generate_series(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i + 1]) END) AS g
         |  FROM rtk),
         |g2 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM u2 GROUP BY 1, 2),
         |rlens AS (SELECT doc_id, len(toks)::BIGINT AS n1,
         |    greatest(len(toks) - 1, 0)::BIGINT AS n2 FROM rtk),
         |ov1 AS (SELECT p.a_id, p.b_id, sum(least(a.c, b.c))::BIGINT AS ov
         |  FROM pairs p JOIN g1 a ON a.doc_id = p.a_id
         |    JOIN g1 b ON b.doc_id = p.b_id AND b.g = a.g GROUP BY 1, 2),
         |ov2 AS (SELECT p.a_id, p.b_id, sum(least(a.c, b.c))::BIGINT AS ov
         |  FROM pairs p JOIN g2 a ON a.doc_id = p.a_id
         |    JOIN g2 b ON b.doc_id = p.b_id AND b.g = a.g GROUP BY 1, 2)
         |SELECT p.a_id, p.b_id,
         |  COALESCE(o1.ov, 0)::BIGINT AS ov1, COALESCE(o2.ov, 0)::BIGINT AS ov2,
         |  CASE WHEN la.n1 + lb.n1 = 0 THEN 0.0
         |    ELSE 2.0 * COALESCE(o1.ov, 0)::DOUBLE / (la.n1 + lb.n1)::DOUBLE
         |  END AS rouge1_f,
         |  CASE WHEN la.n2 + lb.n2 = 0 THEN 0.0
         |    ELSE 2.0 * COALESCE(o2.ov, 0)::DOUBLE / (la.n2 + lb.n2)::DOUBLE
         |  END AS rouge2_f
         |FROM pairs p JOIN rlens la ON la.doc_id = p.a_id
         |  JOIN rlens lb ON lb.doc_id = p.b_id
         |  LEFT JOIN ov1 o1 ON o1.a_id = p.a_id AND o1.b_id = p.b_id
         |  LEFT JOIN ov2 o2 ON o2.a_id = p.a_id AND o2.b_id = p.b_id
         |ORDER BY p.a_id, p.b_id"""
      .stripMargin

  val oracles: Map[String, String] = Map(
    "d_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS survivor_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "d_dedup_fingerprint" ->
      s"""SELECT md5(array_to_string(list_sort(list_distinct($tokensSql)), ' ')) AS fingerprint,
         | min(doc_id) AS survivor_id, count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // scored via the inverted index (count shared shingles + lengths-only
    // joins) rather than per-pair list_intersect: identical n_common/
    // n_union by construction — zero-overlap candidates drop out of the
    // inner join, but every consumer filters at a positive jaccard — and
    // it keeps the mirror tractable when run on the larger sf corpora
    // (the zipf-oracle lesson: 47 s of list scans -> <1 s relational).
    "d_dedup_ngram" ->
      s"""WITH sh AS (SELECT doc_id, $shingleSql AS ss FROM documents),
         |inv AS (SELECT doc_id, unnest(ss) AS s FROM sh),
         |lens AS (SELECT doc_id, len(ss)::BIGINT AS nss FROM sh),
         |rare AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= $NgramDfCap),
         |capped AS (SELECT doc_id, s FROM inv WHERE s IN (SELECT s FROM rare)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id),
         |scored AS (SELECT c.a_id, c.b_id, count(*)::BIGINT AS n_common,
         |  (any_value(la.nss) + any_value(lb.nss) - count(*))::BIGINT AS n_union
         |  FROM cand c
         |  JOIN inv ia ON ia.doc_id = c.a_id
         |  JOIN inv ib ON ib.doc_id = c.b_id AND ib.s = ia.s
         |  JOIN lens la ON la.doc_id = c.a_id
         |  JOIN lens lb ON lb.doc_id = c.b_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, n_common, n_union,
         |  n_common::DOUBLE / n_union::DOUBLE AS jaccard
         |FROM scored WHERE n_common::DOUBLE / n_union::DOUBLE > 0.5
         |ORDER BY a_id, b_id""".stripMargin,
    // the UNCAPPED exact truth (any pair sharing ≥1 shingle, then exact
    // verify) — the prefix filter must lose nothing to match this
    "d_dedup_ngram_prefix" ->
      s"""WITH sh AS (SELECT doc_id, $shingleSql AS ss FROM documents),
         |inv AS (SELECT doc_id, unnest(ss) AS s FROM sh),
         |lens AS (SELECT doc_id, len(ss)::BIGINT AS nss FROM sh),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id),
         |scored AS (SELECT c.a_id, c.b_id, count(*)::BIGINT AS n_common,
         |  (any_value(la.nss) + any_value(lb.nss) - count(*))::BIGINT AS n_union
         |  FROM cand c
         |  JOIN inv ia ON ia.doc_id = c.a_id
         |  JOIN inv ib ON ib.doc_id = c.b_id AND ib.s = ia.s
         |  JOIN lens la ON la.doc_id = c.a_id
         |  JOIN lens lb ON lb.doc_id = c.b_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, n_common, n_union,
         |  n_common::DOUBLE / n_union::DOUBLE AS jaccard
         |FROM scored WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.7
         |ORDER BY a_id, b_id""".stripMargin,
    // Exact DuckDB mirror of the PPJoin pipeline (rare-first prefix, length
    // filter, positional filter, exact verify) over the fixed-path Zipf
    // fixture — read directly via read_parquet: the Verify run materializes
    // the corpus there BEFORE the driver's DuckDB pass starts, and the path
    // is parameter-keyed + content-deterministic. rk ties cannot happen
    // ((df, s) is unique within a doc: shingles are distinct per doc), so
    // row_number is deterministic on both engines.
    "d_dedup_prefix_zipf" ->
      s"""WITH $zipfScoredCtes,
         |final0 AS (SELECT a_id, b_id, n_common, n_union,
         |  n_common::DOUBLE / n_union::DOUBLE AS jaccard
         |FROM scored WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.7)
         |SELECT a_id, b_id, n_common, n_union, jaccard FROM final0
         |ORDER BY a_id, b_id""".stripMargin,
    "d_minhash_audit" ->
      s"""WITH $minhashCtes,
         |inv AS (SELECT doc_id, unnest(ss) AS sg FROM sh),
         |tc AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM inv a JOIN inv b ON a.sg = b.sg AND a.doc_id < b.doc_id),
         |truth AS (SELECT * FROM (
         |  SELECT tc.a_id, tc.b_id,
         |    len(list_intersect(sa.ss, sb.ss))::BIGINT AS n_common,
         |    (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)))::BIGINT AS n_union
         |  FROM tc JOIN sh sa ON tc.a_id = sa.doc_id
         |           JOIN sh sb ON tc.b_id = sb.doc_id)
         |  WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.7)
         |SELECT t.a_id, t.b_id,
         |  n_common::DOUBLE / n_union::DOUBLE AS jaccard,
         |  (c.a_id IS NOT NULL) AS caught
         |FROM truth t LEFT JOIN cand c ON t.a_id = c.a_id AND t.b_id = c.b_id
         |ORDER BY t.a_id, t.b_id""".stripMargin,
    "d_dedup_minhash" ->
      s"""WITH $minhashCtes
         |SELECT a_id, b_id, n_common, n_union,
         |  n_common::DOUBLE / n_union::DOUBLE AS jaccard
         |FROM scored WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.7
         |ORDER BY a_id, b_id""".stripMargin,
    "d_rouge_pairs" ->
      s"""WITH $minhashCtes,
         |pairs AS (SELECT a_id, b_id FROM scored
         |  WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.7),
         |${rougeBodySql("documents")}""".stripMargin,
    "d_rouge_zipf" ->
      s"""WITH $zipfScoredCtes,
         |pairs AS (SELECT a_id, b_id FROM scored
         |  WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.7),
         |${rougeBodySql(
             s"read_parquet('${graft.sources.ZipfGateFixture.parquetGlob}')")}""".stripMargin,
    // transitive closure of the verified pairs via a recursive CTE;
    // cluster id = least reachable doc_id (incl. self)
    "d_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT a_id, b_id FROM scored
         |  WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.7),
         |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  SELECT s AS id, d AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
         |clusters AS (SELECT id, least(id, min(r)) AS cluster_id
         |  FROM reach GROUP BY id)
         |SELECT id AS doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin,
    // combined-signal clusters: exact-dup star edges UNION minhash pairs,
    // then the same recursive closure (star vs clique edges give identical
    // components, so the engines may differ in edge spelling)
    "d_dedup_combined" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT a_id, b_id FROM scored
         |  WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.7),
         |fp AS (SELECT doc_id,
         |   md5(array_to_string(list_sort(list_distinct($tokensSql)), ' ')) AS h
         | FROM documents),
         |reps AS (SELECT h, MIN(doc_id) AS rep FROM fp GROUP BY 1),
         |exactp AS (SELECT r.rep AS a_id, f.doc_id AS b_id
         |  FROM fp f JOIN reps r ON f.h = r.h
         |  WHERE f.doc_id <> r.rep),
         |allp AS (SELECT a_id, b_id FROM pairs
         |  UNION SELECT a_id, b_id FROM exactp),
         |edges AS (SELECT a_id AS s, b_id AS d FROM allp
         |  UNION SELECT b_id, a_id FROM allp),
         |reach AS (
         |  SELECT s AS id, d AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
         |clusters AS (SELECT id, least(id, min(r)) AS cluster_id
         |  FROM reach GROUP BY id)
         |SELECT id AS doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin,
    // keep-best survivor: min doc_id among cluster members with the max
    // token count — a join-back-on-max spelling, deliberately different
    // from the Spark side's single max(struct(...)) aggregate
    "d_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT a_id, b_id FROM scored
         |  WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.7),
         |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  SELECT s AS id, d AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
         |clusters AS (SELECT id, least(id, min(r)) AS cluster_id
         |  FROM reach GROUP BY id),
         |nt AS (SELECT doc_id, len($tokensSql)::BIGINT AS n_tokens FROM documents),
         |m AS (SELECT nt.doc_id, coalesce(c.cluster_id, nt.doc_id) AS cluster_id,
         |  nt.n_tokens FROM nt LEFT JOIN clusters c ON nt.doc_id = c.id),
         |agg AS (SELECT cluster_id, count(*)::BIGINT AS n_members,
         |  max(n_tokens) AS survivor_tokens FROM m GROUP BY 1)
         |SELECT a.cluster_id, a.n_members, a.survivor_tokens,
         |  min(m.doc_id) AS survivor_id
         |FROM agg a JOIN m ON m.cluster_id = a.cluster_id
         |  AND m.n_tokens = a.survivor_tokens
         |GROUP BY 1, 2, 3 ORDER BY a.cluster_id""".stripMargin,
    "d_decontaminate" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |  CASE WHEN len(toks) < $DecontamN THEN []::VARCHAR[]
         |       ELSE list_distinct(list_transform(
         |         generate_series(1, len(toks) - ${DecontamN - 1}),
         |         i -> array_to_string(list_slice(toks, i, i + ${DecontamN - 1}), ' ')))
         |  END AS grams FROM tk),
         |bench AS (SELECT DISTINCT unnest(grams) AS gr FROM g
         |  WHERE doc_id % $DecontamBenchMod = 0),
         |corpus AS (SELECT doc_id, grams FROM g
         |  WHERE doc_id % $DecontamBenchMod <> 0),
         |hits AS (SELECT doc_id, count(*)::BIGINT AS n_hit
         |  FROM (SELECT doc_id, unnest(grams) AS gr FROM corpus) c
         |  WHERE gr IN (SELECT gr FROM bench) GROUP BY doc_id)
         |SELECT c.doc_id, len(c.grams)::BIGINT AS n_grams,
         |  coalesce(h.n_hit, 0)::BIGINT AS n_hit,
         |  CASE WHEN coalesce(h.n_hit, 0) > 0 THEN 'contaminated'
         |       ELSE 'clean' END AS decontam_bucket
         |FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
         |ORDER BY c.doc_id""".stripMargin,
    "d_trim_spans" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |w AS (SELECT doc_id, i,
         |    md5(array_to_string(list_slice(toks, i, i + ${SpanK - 1}), ' ')) AS span_hash
         |  FROM tk, unnest(range(1, len(toks) - $SpanK + 2)) AS u(i)
         |  WHERE len(toks) >= $SpanK),
         |fd AS (SELECT span_hash, MIN(doc_id) AS first_doc FROM w
         |  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
         |dt AS (SELECT DISTINCT w.doc_id, g.t
         |  FROM w JOIN fd USING (span_hash),
         |    unnest(generate_series(w.i, w.i + ${SpanK - 1})) AS g(t)
         |  WHERE w.doc_id != fd.first_doc),
         |tok AS (SELECT doc_id, u.t, toks[u.t] AS tok
         |  FROM tk, unnest(generate_series(1, len(toks))) AS u(t)),
         |kept AS (SELECT tok.doc_id, tok.t, tok.tok FROM tok
         |  LEFT JOIN dt ON tok.doc_id = dt.doc_id AND tok.t = dt.t
         |  WHERE dt.t IS NULL),
         |k2 AS (SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
         |    md5(array_to_string(list(tok ORDER BY t), ' ')) AS kept_md5
         |  FROM kept GROUP BY 1),
         |nt AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens FROM tk)
         |SELECT nt.doc_id, nt.n_tokens,
         |  COALESCE(k2.n_kept, 0) AS n_kept,
         |  COALESCE(k2.kept_md5, md5('')) AS kept_md5,
         |  round(CAST(nt.n_tokens - COALESCE(k2.n_kept, 0) AS DOUBLE)
         |    / CAST(nt.n_tokens AS DOUBLE), 6) AS trim_ratio
         |FROM nt LEFT JOIN k2 USING (doc_id) ORDER BY nt.doc_id""".stripMargin,
    "d_dedup_spans" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |w AS (SELECT doc_id,
         |    md5(array_to_string(list_slice(toks, i, i + ${SpanK - 1}), ' ')) AS span_hash
         |  FROM tk, unnest(range(1, len(toks) - $SpanK + 2)) AS u(i)
         |  WHERE len(toks) >= $SpanK)
         |SELECT span_hash, count(DISTINCT doc_id)::BIGINT AS n_docs,
         |  count(*)::BIGINT AS n_occ, min(doc_id) AS first_doc
         |FROM w GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY span_hash""".stripMargin,
    "d_dup_ratio" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |w AS (SELECT doc_id,
         |    md5(array_to_string(list_slice(toks, i, i + ${SpanK - 1}), ' ')) AS span_hash
         |  FROM tk, unnest(range(1, len(toks) - $SpanK + 2)) AS u(i)
         |  WHERE len(toks) >= $SpanK),
         |per_hash AS (SELECT span_hash, count(DISTINCT doc_id) AS nd
         |  FROM w GROUP BY span_hash)
         |SELECT w.doc_id, count(*)::BIGINT AS n_windows,
         |  sum(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_windows,
         |  sum(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE AS dup_ratio
         |FROM w JOIN per_hash p ON w.span_hash = p.span_hash
         |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,
    "d_dup_spans_merged" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |w AS (SELECT doc_id, i,
         |    md5(array_to_string(list_slice(toks, i, i + ${SpanK - 1}), ' ')) AS span_hash
         |  FROM tk, unnest(range(1, len(toks) - $SpanK + 2)) AS u(i)
         |  WHERE len(toks) >= $SpanK),
         |per_hash AS (SELECT span_hash, count(DISTINCT doc_id) AS nd
         |  FROM w GROUP BY span_hash),
         |dup AS (SELECT w.doc_id, w.i FROM w
         |  JOIN per_hash p ON w.span_hash = p.span_hash WHERE p.nd >= 2),
         |isl AS (SELECT doc_id, i,
         |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
         |  FROM dup)
         |SELECT doc_id, min(i)::BIGINT AS start_tok,
         |  (max(i) + ${SpanK - 1})::BIGINT AS end_tok,
         |  count(*)::BIGINT AS n_windows
         |FROM isl GROUP BY doc_id, grp
         |ORDER BY doc_id, start_tok""".stripMargin,
    "d_dedup_simhash" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, count(*)::BIGINT AS c,
         |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_hi,
         |    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_lo
         |  FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |bits AS (
         |  SELECT doc_id, b,
         |    sum(c * (2 * ((CASE WHEN b < 32 THEN h_lo >> b
         |                        ELSE h_hi >> (b - 32) END) & 1) - 1)) AS v
         |  FROM tf, unnest(generate_series(0, 63)) AS t(b) GROUP BY 1, 2),
         |sig AS (
         |  SELECT doc_id,
         |    (sum(CASE WHEN v > 0 AND b < 63 THEN (1::BIGINT << b) ELSE 0 END)
         |     + sum(CASE WHEN v > 0 AND b = 63
         |           THEN -9223372036854775808::HUGEINT ELSE 0 END))::BIGINT AS simhash
         |  FROM bits GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, simhash, b AS band_idx,
         |    (simhash >> (16 * b)) & 65535 AS band_val
         |  FROM sig, unnest(generate_series(0, 3)) AS t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |    a.simhash AS a_sh, b.simhash AS b_sh
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |    AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id, a_sh, b_sh, bit_count(xor(a_sh, b_sh))::BIGINT AS hamming
         |FROM cand WHERE bit_count(xor(a_sh, b_sh)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,
    "d_token_stats" ->
      s"""SELECT doc_id,
         | len(toks)::BIGINT AS n_tokens,
         | len(list_distinct(toks))::BIGINT AS n_distinct,
         | len(text)::BIGINT AS n_chars,
         | list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)::DOUBLE AS avg_token_len,
         | len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS type_token_ratio
         |FROM (SELECT doc_id, text, $tokensSql AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "d_fingerprint_roll" ->
      s"""SELECT doc_id,
         | list_reduce(list_prepend(0::BIGINT,
         |     list_transform(generate_series(1, len(text)), i -> ascii(substr(text, i::INT, 1))::BIGINT)),
         |   (a, x) -> (a * $RollBase + x) % $RollMod) AS roll_hash,
         | list_min(list_transform(generate_series(1, greatest(len(text) - 7, 1)),
         |   i -> list_reduce(list_prepend(0::BIGINT,
         |       list_transform(generate_series(i, i + 7), j -> ascii(substr(text, j::INT, 1))::BIGINT)),
         |     (a, x) -> (a * $RollBase + x) % $RollMod))) AS min_window_hash
         |FROM documents ORDER BY doc_id""".stripMargin,
    "d_bpe_tokens" ->
      s"""SELECT doc_id,
         | len(regexp_split_to_array(text, ' +'))::BIGINT AS n_ws,
         | len($tokensSql)::BIGINT AS n_words,
         | len(regexp_extract_all(lower(text), '$BpeIshRe'))::BIGINT AS n_bpe,
         | CASE WHEN len(regexp_extract_all(lower(text), '$BpeIshRe')) > 0
         |   THEN len(text)::DOUBLE / len(regexp_extract_all(lower(text), '$BpeIshRe'))::DOUBLE
         | END AS chars_per_bpe
         |FROM documents ORDER BY doc_id""".stripMargin,
    "d_quality" ->
      s"""SELECT doc_id, n_tokens, n_stop, n_punct, n_chars,
         | CASE WHEN n_tokens < 10 THEN 'too_short'
         |      WHEN n_stop * 2 >= n_tokens THEN 'stopword_heavy'
         |      WHEN n_punct * 5 >= n_tokens THEN 'punct_heavy'
         |      ELSE 'ok' END AS quality_bucket
         |FROM (
         |  SELECT doc_id,
         |    len(toks)::BIGINT AS n_tokens,
         |    len(list_filter(toks, t -> list_contains($stopSql, t)))::BIGINT AS n_stop,
         |    (len(text) - len(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::BIGINT AS n_punct,
         |    len(text)::BIGINT AS n_chars
         |  FROM (SELECT doc_id, text, $tokensSql AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin,
    // staged CTEs mirror the Spark fold exactly: count on the previous
    // stage's output, then mask; DuckDB regexp_replace needs the 'g' flag
    // (Spark's replaces all matches by default)
    "d_pii_scrub" ->
      s"""WITH s0 AS (SELECT c_custkey, c_name AS r FROM customer),
         |s1 AS (SELECT c_custkey,
         |  len(regexp_extract_all(r, '$PiiEmailRe'))::BIGINT AS n_email,
         |  regexp_replace(r, '$PiiEmailRe', '[EMAIL]', 'g') AS r FROM s0),
         |s2 AS (SELECT c_custkey, n_email,
         |  len(regexp_extract_all(r, '$PiiPhoneRe'))::BIGINT AS n_phone,
         |  regexp_replace(r, '$PiiPhoneRe', '[PHONE]', 'g') AS r FROM s1),
         |s3 AS (SELECT c_custkey, n_email, n_phone,
         |  len(regexp_extract_all(r, '$PiiIpRe'))::BIGINT AS n_ip,
         |  regexp_replace(r, '$PiiIpRe', '[IP]', 'g') AS r FROM s2),
         |s4 AS (SELECT c_custkey, n_email, n_phone, n_ip,
         |  len(regexp_extract_all(r, '$PiiIdRe'))::BIGINT AS n_idnum,
         |  regexp_replace(r, '$PiiIdRe', '[ID]', 'g') AS r FROM s3)
         |SELECT c_custkey, n_email, n_phone, n_ip, n_idnum, r AS redacted
         |FROM s4 ORDER BY c_custkey""".stripMargin,
    "d_quantile_sketch" -> quantileSketchOracle,
    "d_token_fertility" ->
      s"""WITH d AS (SELECT lang, n_chars,
         |    len($tokensSql)::BIGINT AS n_toks,
         |    list_sum(list_transform($tokensSql, t -> length(t)))::BIGINT AS tok_chars
         |  FROM documents)
         |SELECT lang, COUNT(*)::BIGINT AS n_docs,
         |  SUM(n_toks)::BIGINT AS total_tokens,
         |  SUM(n_chars)::BIGINT AS total_chars,
         |  SUM(tok_chars)::BIGINT AS total_tok_chars,
         |  round(CAST(SUM(tok_chars) AS DOUBLE) / CAST(SUM(n_toks) AS DOUBLE), 6)
         |    AS chars_per_token,
         |  round(CAST(SUM(n_toks) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         |    AS tokens_per_doc
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "d_distinct_overlap" ->
      s"""WITH toks AS (SELECT DISTINCT source, tok FROM (
         |  SELECT lang AS source, unnest($shingleSql) AS tok
         |  FROM documents WHERE lang IN ('en', 'de'))),
         |th AS (SELECT source, tok,
         |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
         |ska AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk
         |  FROM th WHERE source = 'en') WHERE rk <= $KmvK),
         |skb AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk
         |  FROM th WHERE source = 'de') WHERE rk <= $KmvK),
         |mg AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM (
         |  SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb))),
         |mk AS (SELECT h, rk FROM mg WHERE rk <= $KmvK),
         |hk AS (SELECT h AS hk FROM mk WHERE rk = $KmvK),
         |nb AS (SELECT COUNT(*)::BIGINT AS n_both FROM mk
         |  WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
         |ea AS (SELECT COUNT(*)::BIGINT AS exact_a FROM th WHERE source = 'en'),
         |eb AS (SELECT COUNT(*)::BIGINT AS exact_b FROM th WHERE source = 'de'),
         |eu AS (SELECT COUNT(DISTINCT tok)::BIGINT AS exact_union FROM toks),
         |ei AS (SELECT COUNT(*)::BIGINT AS exact_inter FROM (
         |  SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) = 2))
         |SELECT exact_a, exact_b, exact_union, exact_inter, n_both,
         |  round(${KmvK - 1}.0 * CAST(1152921504606846976 AS DOUBLE)
         |    / CAST(hk AS DOUBLE), 6) AS est_union_r,
         |  round(CAST(n_both AS DOUBLE) / ${KmvK}.0, 6) AS jaccard_est_r,
         |  round((CAST(n_both AS DOUBLE) / ${KmvK}.0) *
         |    (${KmvK - 1}.0 * CAST(1152921504606846976 AS DOUBLE)
         |      / CAST(hk AS DOUBLE)), 6) AS est_inter_r
         |FROM ea, eb, eu, ei, hk, nb""".stripMargin,
    "d_validate" ->
      """WITH a AS (SELECT COUNT(*)::BIGINT AS n_rows,
        |  SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)::BIGINT AS empty_text,
        |  SUM(CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es', 'zh') THEN 1 ELSE 0 END)::BIGINT AS bad_lang,
        |  SUM(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)::BIGINT AS n_chars_mismatch,
        |  SUM(CASE WHEN doc_id IS NULL OR doc_id < 0 THEN 1 ELSE 0 END)::BIGINT AS bad_id,
        |  (COUNT(*) - COUNT(DISTINCT doc_id))::BIGINT AS dup_ids
        |FROM documents)
        |SELECT "check", n FROM (
        |  SELECT 'n_rows' AS "check", n_rows AS n FROM a
        |  UNION ALL SELECT 'empty_text', empty_text FROM a
        |  UNION ALL SELECT 'bad_lang', bad_lang FROM a
        |  UNION ALL SELECT 'n_chars_mismatch', n_chars_mismatch FROM a
        |  UNION ALL SELECT 'bad_id', bad_id FROM a
        |  UNION ALL SELECT 'dup_ids', dup_ids FROM a)
        |ORDER BY "check"""".stripMargin,
    "d_sample_estimate" ->
      """WITH s AS (SELECT COUNT(*)::BIGINT AS s_n,
        |    CAST(SUM(n_chars) AS DECIMAL(38,0)) AS s_sum,
        |    CAST(SUM(n_chars * n_chars) AS DECIMAL(38,0)) AS s_sumsq
        |  FROM documents
        |  WHERE ('0x' || substr(md5('est:' || doc_id::VARCHAR), 1, 8))::BIGINT % 20 = 0),
        |f AS (SELECT COUNT(*)::BIGINT AS f_n,
        |    CAST(SUM(n_chars) AS DECIMAL(38,0)) AS f_sum,
        |    CAST(SUM(n_chars * n_chars) AS DECIMAL(38,0)) AS f_sumsq
        |  FROM documents),
        |m AS (SELECT s_n, f_n,
        |    CAST(s_sum AS DOUBLE) / CAST(s_n AS DOUBLE) AS s_mean,
        |    CAST(f_sum AS DOUBLE) / CAST(f_n AS DOUBLE) AS f_mean,
        |    (CAST(s_sumsq AS DOUBLE) -
        |      (CAST(s_sum AS DOUBLE) / CAST(s_n AS DOUBLE)) * CAST(s_sum AS DOUBLE))
        |      / CAST(s_n AS DOUBLE) AS s_var,
        |    (CAST(f_sumsq AS DOUBLE) -
        |      (CAST(f_sum AS DOUBLE) / CAST(f_n AS DOUBLE)) * CAST(f_sum AS DOUBLE))
        |      / CAST(f_n AS DOUBLE) AS f_var
        |  FROM s, f)
        |SELECT s_n, f_n, round(s_mean, 6) AS s_mean_r, round(f_mean, 6) AS f_mean_r,
        |  round(abs(s_mean - f_mean), 6) AS mean_abs_err,
        |  round(sqrt(s_var / CAST(s_n AS DOUBLE)), 6) AS mean_se,
        |  round(sqrt(f_var), 6) AS f_std_r
        |FROM m""".stripMargin,
    "d_decontam_fuzzy" ->
      s"""WITH $minhashBandCtes,
         |candf AS (SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_id
         |  FROM bands c JOIN bands b
         |    ON c.b = b.b AND c.band_hash = b.band_hash
         |  WHERE b.doc_id % $FuzzyBenchMod = 0 AND c.doc_id % $FuzzyBenchMod != 0),
         |scoredf AS (SELECT candf.doc_id, candf.bench_id,
         |    len(list_intersect(sc.ss, sb.ss))::BIGINT AS n_common,
         |    (len(sc.ss) + len(sb.ss) - len(list_intersect(sc.ss, sb.ss)))::BIGINT AS n_union
         |  FROM candf JOIN sh sc ON candf.doc_id = sc.doc_id
         |             JOIN sh sb ON candf.bench_id = sb.doc_id)
         |SELECT doc_id, COUNT(*)::BIGINT AS n_bench_matches,
         |  MAX(n_common::DOUBLE / n_union::DOUBLE) AS max_jaccard
         |FROM scoredf WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.5
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d_batch_buckets" ->
      s"""WITH d AS (SELECT doc_id, n_chars, n_chars // 64 AS bucket,
         |    md5('batch:' || doc_id::VARCHAR) AS h FROM documents),
         |r AS (SELECT doc_id, n_chars, bucket,
         |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, doc_id) - 1 AS rk
         |  FROM d)
         |SELECT bucket, rk // $BatchSize AS batch_idx, COUNT(*) AS n_items,
         |  MAX(n_chars) AS max_len,
         |  COUNT(*) * MAX(n_chars) - SUM(n_chars)::BIGINT AS waste
         |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d_split_exact" ->
      """WITH ranked AS (SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5('xsplit:' || doc_id::VARCHAR), doc_id) AS rk
        |FROM documents),
        |q AS (SELECT lang, COUNT(*) // 10 AS n_val, COUNT(*) // 20 AS n_test
        |      FROM documents GROUP BY 1)
        |SELECT r.doc_id, r.lang,
        |  CASE WHEN r.rk <= q.n_val THEN 'val'
        |       WHEN r.rk <= q.n_val + q.n_test THEN 'test'
        |       ELSE 'train' END AS split
        |FROM ranked r JOIN q ON r.lang = q.lang
        |ORDER BY r.doc_id""".stripMargin,
    "d_preference_pairs" ->
      """WITH ranked AS (SELECT source, lang, doc_id, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY source, lang
        |    ORDER BY n_chars DESC, doc_id) AS rb,
        |  ROW_NUMBER() OVER (PARTITION BY source, lang
        |    ORDER BY n_chars ASC, doc_id) AS rw
        |FROM documents),
        |g AS (SELECT source, lang, COUNT(*) AS n_candidates
        |      FROM documents GROUP BY 1, 2)
        |SELECT g.source, g.lang, g.n_candidates,
        |  b.doc_id AS chosen_id, w.doc_id AS rejected_id,
        |  b.n_chars - w.n_chars AS margin
        |FROM g
        |JOIN ranked b ON b.source = g.source AND b.lang = g.lang AND b.rb = 1
        |JOIN ranked w ON w.source = g.source AND w.lang = g.lang AND w.rw = 1
        |WHERE b.n_chars - w.n_chars > 0
        |ORDER BY g.source, g.lang""".stripMargin,
    // chr(769) = U+0301 combining acute (decomposed form), chr(233) = U+00E9
    "d_normalize" ->
      """WITH inj AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'e' || chr(769))
        |       ELSE text END AS raw,
        |  CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', chr(233))
        |       ELSE text END AS composed
        |FROM documents)
        |SELECT doc_id, length(raw)::BIGINT AS n_raw,
        |  length(nfc_normalize(raw))::BIGINT AS n_nfc,
        |  md5(raw) AS md5_raw, md5(nfc_normalize(raw)) AS md5_nfc,
        |  md5(nfc_normalize(raw)) = md5(composed) AS canonical_ok
        |FROM inj ORDER BY doc_id""".stripMargin,
    // chr(225)/chr(246) = composed a-acute / o-diaeresis
    "d_fold_accents" ->
      """WITH inj AS (SELECT doc_id, text,
        |  CASE WHEN doc_id % 2 = 0
        |         THEN replace(replace(text, 'a', chr(225)), 'o', chr(246))
        |       WHEN doc_id % 5 = 1 THEN replace(text, 'e', 'e' || chr(769))
        |       ELSE text END AS accented
        |FROM documents)
        |SELECT doc_id, md5(accented) AS md5_accented,
        |  md5(strip_accents(accented)) AS md5_folded,
        |  md5(strip_accents(accented)) = md5(text) AS restored
        |FROM inj ORDER BY doc_id""".stripMargin,
    // top-multiplicity via per-list count-max here vs sorted-run fold on the
    // Spark side — two different algorithms, same value, which is the point
    "d_repetition" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |ng AS (SELECT doc_id, toks,
         |  CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
         |       ELSE list_transform(generate_series(1, len(toks) - 1),
         |         i -> toks[i] || ' ' || toks[i + 1]) END AS bgs,
         |  CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
         |       ELSE list_transform(generate_series(1, len(toks) - 2),
         |         i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END AS tgs
         |  FROM tk),
         |base AS (SELECT doc_id,
         |  len(toks)::BIGINT AS n_tokens,
         |  coalesce(list_max(list_transform(list_distinct(toks),
         |    t -> len(list_filter(toks, x -> x = t)))), 0)::BIGINT AS top_word_n,
         |  len(bgs)::BIGINT AS n_bigrams,
         |  coalesce(list_max(list_transform(list_distinct(bgs),
         |    t -> len(list_filter(bgs, x -> x = t)))), 0)::BIGINT AS top_bigram_n,
         |  len(tgs)::BIGINT AS n_trigrams,
         |  (len(tgs) - len(list_distinct(tgs)))::BIGINT AS dup_trigram_n
         |  FROM ng)
         |SELECT doc_id, n_tokens, top_word_n, n_bigrams, top_bigram_n,
         |  n_trigrams, dup_trigram_n,
         | CASE WHEN n_tokens = 0 THEN 'empty'
         |      WHEN top_word_n * 4 >= n_tokens THEN 'word_repetitive'
         |      WHEN n_bigrams > 0 AND top_bigram_n * 8 >= n_bigrams THEN 'bigram_repetitive'
         |      WHEN n_trigrams > 0 AND dup_trigram_n * 2 >= n_trigrams THEN 'trigram_dupey'
         |      ELSE 'ok' END AS rep_bucket
         |FROM base ORDER BY doc_id""".stripMargin,
    "d_lang_id" -> {
      val counts = langMarkers.map { case (lang, ms) =>
        val arr = ms.map(m => s"'$m'").mkString("[", ", ", "]")
        s"len(list_filter(toks, t -> list_contains($arr, t)))::BIGINT AS n_$lang"
      }.mkString(",\n    ")
      s"""SELECT doc_id, n_en, n_de, n_fr, n_es,
         | CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es THEN 'en'
         |      WHEN n_de >= n_fr AND n_de >= n_es THEN 'de'
         |      WHEN n_fr >= n_es THEN 'fr'
         |      ELSE 'es' END AS pred_lang
         |FROM (
         |  SELECT doc_id,
         |    $counts
         |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin
    },
    "d_pack_sequences" ->
      s"""WITH nt AS (SELECT doc_id, len($tokensSql)::BIGINT AS n_tokens FROM documents),
         |o AS (SELECT doc_id, n_tokens,
         |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "offset"
         |  FROM nt)
         |SELECT doc_id, n_tokens, "offset",
         |  "offset" // $PackSeqLen AS seq_first,
         |  greatest("offset" // $PackSeqLen,
         |    ("offset" + n_tokens - 1) // $PackSeqLen) AS seq_last,
         |  "offset" % $PackSeqLen AS pos_in_seq
         |FROM o ORDER BY doc_id""".stripMargin,
    // FFD mirrored as a row-by-row recursion per group: the recursive term
    // advances each group's rank frontier together, carrying the bin-fill
    // LIST as state (idx = first fill with room, DuckDB list_position).
    "d_pack_ffd" ->
      s"""WITH RECURSIVE nt AS (
         |  SELECT doc_id, doc_id % $PackGroups AS grp,
         |         least(len($tokensSql)::BIGINT, $PackSeqLen) AS len
         |  FROM documents),
         |ord AS (
         |  SELECT doc_id, grp, len,
         |         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY len DESC, doc_id) AS rn
         |  FROM nt),
         |pack AS (
         |  SELECT grp, rn, doc_id, len, [len] AS fills, 1::BIGINT AS bin
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT grp, rn, doc_id, len,
         |    CASE WHEN idx = 0 THEN list_append(fills, len)
         |         ELSE list_concat(list_concat(list_slice(fills, 1, idx - 1),
         |                [fills[idx] + len]), list_slice(fills, idx + 1, len(fills)))
         |    END AS fills,
         |    (CASE WHEN idx = 0 THEN len(fills) + 1 ELSE idx END)::BIGINT AS bin
         |  FROM (
         |    SELECT o.grp, o.rn, o.doc_id, o.len, p.fills,
         |           COALESCE(list_position(
         |             list_transform(p.fills, f -> f + o.len <= $PackSeqLen), true), 0) AS idx
         |    FROM pack p JOIN ord o ON o.grp = p.grp AND o.rn = p.rn + 1) s)
         |SELECT doc_id, grp, len, bin FROM pack ORDER BY doc_id""".stripMargin,
    "d_sft_render" ->
      """WITH b AS (
        |  SELECT source, lang, doc_id, text,
        |         ROW_NUMBER() OVER (PARTITION BY source, lang ORDER BY doc_id) - 1 AS rn
        |  FROM documents),
        |t AS (SELECT source, lang, doc_id, text, rn // 4 AS conv_no, rn % 4 AS turn FROM b),
        |c AS (SELECT *, COUNT(*) OVER (PARTITION BY source, lang, conv_no) AS cnt FROM t),
        |k AS (SELECT * FROM c WHERE turn < cnt - (cnt % 2)),
        |r AS (SELECT *,
        |        CASE WHEN turn % 2 = 0 THEN '<|user|>' || chr(10)
        |             ELSE '<|assistant|>' || chr(10) END AS marker,
        |        (CASE WHEN turn % 2 = 0 THEN '<|user|>' || chr(10)
        |              ELSE '<|assistant|>' || chr(10) END) || text || '<|end|>' || chr(10) AS turn_render
        |      FROM k),
        |o AS (SELECT *,
        |        COALESCE(SUM(length(turn_render)) OVER (PARTITION BY source, lang, conv_no
        |          ORDER BY turn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS prev_cum
        |      FROM r)
        |SELECT source, lang, conv_no, min(doc_id) AS conv_id, COUNT(*)::BIGINT AS n_turns,
        |  md5(string_agg(turn_render, '' ORDER BY turn)) AS rendered_md5,
        |  SUM(length(turn_render))::BIGINT AS n_chars,
        |  array_to_string(list(prev_cum + length(marker) ORDER BY turn) FILTER (WHERE turn % 2 = 1), ',') AS mask_starts,
        |  array_to_string(list(prev_cum + length(marker) + length(text) ORDER BY turn) FILTER (WHERE turn % 2 = 1), ',') AS mask_ends,
        |  SUM(length(text)) FILTER (WHERE turn % 2 = 1)::BIGINT AS loss_chars
        |FROM o GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,
    "d_phrase_search" -> phraseSearchSql,
    // identical result contract — the indexed path must reproduce the scan
    // path byte-for-byte (shared matcher; only the postings source differs)
    "d_phrase_indexed" -> phraseSearchSql,
    "d_search_bool" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
         |p AS (SELECT doc_id,
         |    SUM(CASE WHEN tok = '${bmTerms(0)}' THEN 1 ELSE 0 END)::BIGINT AS tf_a,
         |    SUM(CASE WHEN tok = '${bmTerms(1)}' THEN 1 ELSE 0 END)::BIGINT AS tf_b,
         |    SUM(CASE WHEN tok = '${bmTerms(2)}' THEN 1 ELSE 0 END)::BIGINT AS tf_not
         |  FROM t WHERE tok IN ('${bmTerms(0)}', '${bmTerms(1)}', '${bmTerms(2)}')
         |  GROUP BY 1)
         |SELECT doc_id, tf_a, tf_b FROM p
         |WHERE tf_a > 0 AND tf_b > 0 AND tf_not = 0
         |ORDER BY doc_id""".stripMargin,
    "d_search_near" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS tok,
         |    (generate_subscripts(toks, 1) - 1)::BIGINT AS pos FROM d),
         |a AS (SELECT doc_id, pos AS pa FROM t WHERE tok = '${bmTerms(0)}'),
         |b AS (SELECT doc_id, pos AS pb FROM t WHERE tok = '${bmTerms(1)}')
         |SELECT doc_id, COUNT(*)::BIGINT AS n_pairs,
         |  MIN(abs(pa - pb))::BIGINT AS min_gap
         |FROM a JOIN b USING (doc_id) WHERE abs(pa - pb) <= $NearWindow
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "d_phrase_kwic" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS tok,
         |    (generate_subscripts(toks, 1) - 1)::BIGINT AS pos FROM d),
         |terms(phrase, tok, off, plen) AS (VALUES $phraseTermsSql),
         |h AS (SELECT terms.phrase, t.doc_id, t.pos - terms.off AS base,
         |    terms.off, terms.plen
         |  FROM t JOIN terms USING (tok) WHERE t.pos - terms.off >= 0),
         |m AS (SELECT phrase, doc_id, base, plen FROM h
         |  GROUP BY phrase, doc_id, base, plen HAVING COUNT(DISTINCT off) = plen),
         |k AS (SELECT phrase, m.doc_id, base,
         |    greatest(base - 5, 0) AS start0, plen, toks
         |  FROM m JOIN d ON m.doc_id = d.doc_id)
         |SELECT phrase, doc_id, base,
         |  array_to_string(list_slice(toks, (start0 + 1)::INT,
         |    (base + plen + 5)::INT), ' ') AS snippet
         |FROM k ORDER BY phrase, doc_id, base""".stripMargin,
    "d_search_bm25" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM d),
         |stats AS (SELECT count(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS sum_dl
         |  FROM dl),
         |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
         |  WHERE tok IN (${bmTerms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2),
         |dft AS (SELECT tok, count(*)::BIGINT AS df_docs FROM tf GROUP BY 1),
         |w AS (SELECT tf.doc_id, tf.tok,
         |    (((n_docs::DOUBLE - df_docs::DOUBLE) + 0.5) / (df_docs::DOUBLE + 0.5)) *
         |    ((tf::DOUBLE * 2.2) / (tf::DOUBLE + 1.2 * (0.25 + 0.75 *
         |      (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE))))) AS w
         |  FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id), stats),
         |p AS (SELECT doc_id,
         |    ${bmTerms.zipWithIndex.map { case (t, i) =>
              s"COALESCE(MAX(CASE WHEN tok = '$t' THEN w END), 0.0) AS w$i"
            }.mkString(",\n|    ")}
         |  FROM w GROUP BY 1)
         |SELECT ROW_NUMBER() OVER (ORDER BY
         |    round(${bmTerms.indices.map(i => s"w$i").mkString(" + ")}, 6) DESC,
         |    doc_id)::BIGINT AS rnk,
         |  doc_id,
         |  round(${bmTerms.indices.map(i => s"w$i").mkString(" + ")}, 6) AS score_r
         |FROM p ORDER BY rnk LIMIT 10""".stripMargin,
    "d_retrieval_eval" -> retrievalEvalSql("documents", evalTerms),
    "d_retrieval_eval_zipf" -> retrievalEvalSql(
      s"read_parquet('${graft.sources.ZipfGateFixture.parquetGlob}')",
      zipfEvalTerms),
    "d_quality_classifier" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |f AS (SELECT doc_id,
         |    len(toks)::BIGINT AS n_tokens,
         |    len(list_filter(toks, t -> t IN (${stopwords.map(w => s"'$w'").mkString(", ")})))::BIGINT AS n_stop,
         |    len(list_distinct(toks))::BIGINT AS n_distinct,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(toks, t -> length(t)::BIGINT)), (a, b) -> a + b)
         |      AS sum_len
         |  FROM d WHERE len(toks) > 0),
         |z AS (SELECT doc_id, n_tokens, n_stop, n_distinct,
         |    -2.0 + 6.0 * (n_stop::DOUBLE / n_tokens::DOUBLE)
         |         + 2.0 * (n_distinct::DOUBLE / n_tokens::DOUBLE)
         |         + 0.3 * (sum_len::DOUBLE / n_tokens::DOUBLE)
         |         + 0.004 * least(n_tokens, 250)::DOUBLE AS z FROM f)
         |SELECT doc_id, n_tokens, n_stop, n_distinct,
         |  round(1.0 / (1.0 + exp(-z)), 6) AS score_r,
         |  (CASE WHEN round(1.0 / (1.0 + exp(-z)), 6) >= $QcTau
         |    THEN 1 ELSE 0 END)::BIGINT AS kept
         |FROM z ORDER BY doc_id""".stripMargin,
    "d_calibration" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |f AS (SELECT doc_id,
         |    len(toks)::BIGINT AS n_tokens,
         |    len(list_filter(toks, t -> t IN (${stopwords.map(w => s"'$w'").mkString(", ")})))::BIGINT AS n_stop,
         |    len(list_distinct(toks))::BIGINT AS n_distinct,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(toks, t -> length(t)::BIGINT)), (a, b) -> a + b)
         |      AS sum_len
         |  FROM d WHERE len(toks) > 0),
         |z AS (SELECT doc_id,
         |    -2.0 + 6.0 * (n_stop::DOUBLE / n_tokens::DOUBLE)
         |         + 2.0 * (n_distinct::DOUBLE / n_tokens::DOUBLE)
         |         + 0.3 * (sum_len::DOUBLE / n_tokens::DOUBLE)
         |         + 0.004 * least(n_tokens, 250)::DOUBLE AS z FROM f),
         |sc AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score_r FROM z),
         |dl AS (SELECT doc_id, lang,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS BIGINT) AS n_tokens
         |  FROM documents),
         |th AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS p50 FROM dl GROUP BY 1),
         |lab AS (SELECT doc_id,
         |    (CASE WHEN CAST(n_tokens AS DOUBLE) >= p50 THEN 1 ELSE 0 END)::BIGINT AS label
         |  FROM dl JOIN th USING (lang)),
         |b AS (SELECT least(floor(score_r * 10)::BIGINT, 9) AS bin,
         |    floor(score_r * 1e6 + 0.5)::BIGINT AS score_u, label
         |  FROM sc JOIN lab USING (doc_id))
         |SELECT bin, count(*)::BIGINT AS n_docs, SUM(label)::BIGINT AS n_pos,
         |  (SUM(score_u)::DOUBLE / count(*)::DOUBLE) / 1e6 AS conf_r,
         |  SUM(label)::DOUBLE / count(*)::DOUBLE AS acc_r,
         |  abs(SUM(label)::DOUBLE / count(*)::DOUBLE
         |    - (SUM(score_u)::DOUBLE / count(*)::DOUBLE) / 1e6) AS gap_r
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    // oracle reads the ORIGINAL parquet — any escaping/encoding loss on the
    // wire-format trip flips the text md5
    "d_jsonl_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_csv_roundtrip" ->
      """WITH h0 AS (SELECT ' comma, "quote" and' || chr(10) ||
        |    'newline \ backslash ' AS text),
        |all_docs AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT -1::BIGINT, text, 'en', 'src0', length(text)::BIGINT FROM h0)
        |SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        |FROM all_docs ORDER BY doc_id""".stripMargin,
    // oracle = the NAIVE all-pairs edit-distance truth: equality proves the
    // deletion-neighborhood blocking dropped no true match
    "d_fuzzy_term" ->
      s"""WITH v AS (SELECT DISTINCT unnest($tokensSql) AS tok FROM documents),
         |q AS (SELECT DISTINCT substr(tok, 1, 1) || substr(tok, 3) AS q
         |  FROM v WHERE length(tok) >= 4)
         |SELECT q, tok, levenshtein(q, tok)::BIGINT AS dist
         |FROM q, v WHERE levenshtein(q, tok) <= 1
         |ORDER BY q, tok""".stripMargin,
    "d_watermark_detect" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |allv AS (SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + 200000, text || repeat(' the line', 30)
         |  FROM base WHERE doc_id % 20 = 0),
         |d AS (SELECT doc_id, $tokensSql AS toks FROM allv),
         |tr AS (SELECT doc_id, (len(toks) - 1)::BIGINT AS n_trans,
         |    list_sum(list_transform(generate_series(2, len(toks)), i ->
         |      CASE WHEN ('0x' || substr(md5(toks[i-1] || ':' || toks[i]), 1, 8))::BIGINT % 4 = 0
         |        THEN 1 ELSE 0 END))::BIGINT AS n_green
         |  FROM d WHERE len(toks) >= 2)
         |SELECT doc_id, n_trans, n_green,
         |  round((n_green::DOUBLE - 0.25 * n_trans::DOUBLE)
         |    / sqrt(0.1875 * n_trans::DOUBLE), 6) AS z_r,
         |  (CASE WHEN round((n_green::DOUBLE - 0.25 * n_trans::DOUBLE)
         |    / sqrt(0.1875 * n_trans::DOUBLE), 6) > 4 THEN 1 ELSE 0 END)::BIGINT
         |    AS watermarked
         |FROM tr ORDER BY doc_id""".stripMargin,
    "d_dsir_weight" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, unnest($tokensSql) AS tok FROM documents),
         |tb AS (SELECT doc_id, source,
         |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b, COUNT(*) AS c
         |  FROM toks GROUP BY 1, 2, 3),
         |corpus AS (SELECT b, SUM(c) + 1 AS r1 FROM tb GROUP BY 1),
         |target AS (SELECT b, SUM(c) AS tc FROM tb WHERE source = 'src0' GROUP BY 1),
         |w AS (SELECT corpus.b, r1, COALESCE(tc, 0) + 1 AS t1
         |  FROM corpus LEFT JOIN target USING (b)),
         |tot AS (SELECT SUM(r1) AS rr, SUM(t1) AS tt FROM w),
         |wd AS (SELECT b, (t1 * rr)::DOUBLE / (r1 * tt)::DOUBLE AS wb FROM w, tot),
         |sc AS (SELECT tb.doc_id, tb.source, tb.b, tb.c, tb.c::DOUBLE * wd.wb AS cw
         |  FROM tb JOIN wd USING (b))
         |SELECT doc_id, source, SUM(c)::BIGINT AS n_toks,
         |  round(list_reduce(list_prepend(0.0, list(cw ORDER BY b)),
         |    (a, b) -> a + b) / SUM(c)::DOUBLE, 6) AS dsir_r
         |FROM sc GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "d_shuffle" ->
      """SELECT doc_id, shuffle_key,
        |  (row_number() OVER (ORDER BY shuffle_key) - 1)::BIGINT AS pos
        |FROM (SELECT doc_id, md5('epoch1:' || doc_id::VARCHAR) AS shuffle_key
        |  FROM documents)
        |ORDER BY pos""".stripMargin,
    "d_dedup_paragraph" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |p AS (SELECT doc_id, toks,
         |    unnest(generate_series(0, (len(toks) - 1) // $ParaTokens)) AS g FROM d),
         |paras AS (SELECT doc_id, g AS pidx,
         |    array_to_string(list_slice(toks, g * $ParaTokens + 1,
         |      g * $ParaTokens + $ParaTokens), ' ') AS para
         |  FROM p),
         |m AS (SELECT doc_id, pidx, para,
         |    ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pidx) = 1 AS keep
         |  FROM paras)
         |SELECT doc_id,
         |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(CASE WHEN NOT keep THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
         |  md5(string_agg(CASE WHEN keep THEN para END, ' ' ORDER BY pidx)) AS text_hash
         |FROM m GROUP BY doc_id
         |HAVING sum(CASE WHEN keep THEN 1 ELSE 0 END) > 0
         |ORDER BY doc_id""".stripMargin,
    "d_char_lm" -> charLmSql,
    "d_lm_buckets" ->
      s"""WITH lm AS ($charLmSql),
         |j AS (SELECT d.doc_id, d.lang, lm.avg_p
         |  FROM documents d JOIN lm ON d.doc_id = lm.doc_id),
         |r AS (SELECT doc_id, lang, avg_p,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_p DESC, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY lang) AS n
         |  FROM j)
         |SELECT doc_id, lang, avg_p,
         |  CASE WHEN rn * 3 <= n THEN 'head'
         |       WHEN rn * 3 <= n * 2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM r ORDER BY doc_id""".stripMargin,
    "d_dedup_incremental" ->
      s"""WITH $minhashBandCtes,
         |nb AS (SELECT doc_id AS new_id, b, band_hash FROM bands WHERE doc_id % 10 = 9),
         |ob AS (SELECT doc_id AS old_id, b, band_hash FROM bands WHERE doc_id % 10 <> 9),
         |bb AS (SELECT doc_id AS old_id, b, band_hash FROM bands WHERE doc_id % 10 = 9),
         |cand AS (SELECT DISTINCT new_id, old_id FROM (
         |  SELECT n.new_id, o.old_id FROM nb n
         |    JOIN ob o ON n.b = o.b AND n.band_hash = o.band_hash
         |  UNION ALL
         |  SELECT n.new_id, o.old_id FROM nb n
         |    JOIN bb o ON n.b = o.b AND n.band_hash = o.band_hash
         |      AND o.old_id < n.new_id)),
         |ver AS (SELECT new_id, old_id,
         |    len(list_intersect(sa.ss, sb.ss))::BIGINT AS nc,
         |    (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)))::BIGINT AS nu
         |  FROM cand JOIN sh sa ON cand.new_id = sa.doc_id
         |            JOIN sh sb ON cand.old_id = sb.doc_id),
         |jc AS (SELECT new_id, old_id, nc::DOUBLE / nu::DOUBLE AS jaccard FROM ver
         |  WHERE nc::DOUBLE / nu::DOUBLE >= 0.7),
         |best AS (SELECT new_id, old_id, jaccard,
         |    ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY jaccard DESC, old_id) AS rk
         |  FROM jc)
         |SELECT d.doc_id, b.old_id AS dup_of, b.jaccard,
         |  b.old_id IS NOT NULL AS is_dup
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d
         |LEFT JOIN (SELECT new_id, old_id, jaccard FROM best WHERE rk = 1) b
         |  ON d.doc_id = b.new_id
         |ORDER BY d.doc_id""".stripMargin,
    "d_mix_weighted" ->
      """SELECT doc_id, lang, source, bucket FROM (
        | SELECT doc_id, lang, source,
        |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket,
        |  CASE lang WHEN 'en' THEN 25 WHEN 'zh' THEN 60 WHEN 'de' THEN 80
        |   WHEN 'fr' THEN 80 WHEN 'es' THEN 80 ELSE 100 END AS rate
        | FROM documents)
        |WHERE bucket < rate ORDER BY doc_id""".stripMargin,
    "d_mix_temperature" ->
      """WITH n AS (SELECT lang, COUNT(*) AS nl FROM documents GROUP BY 1),
        |m AS (SELECT MAX(nl) AS nmax FROM n),
        |r AS (SELECT lang,
        |   CAST(floor(10000.0 * sqrt(CAST(nl AS DOUBLE) / CAST(nmax AS DOUBLE))) AS BIGINT) AS rate
        | FROM n, m)
        |SELECT doc_id, d.lang, bucket, rate FROM (
        | SELECT doc_id, lang,
        |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bucket
        | FROM documents) d
        |JOIN r ON d.lang = r.lang
        |WHERE bucket < rate ORDER BY doc_id""".stripMargin,
    "d_sample_per_class" ->
      """SELECT lang, rk, doc_id, h FROM (
        | SELECT lang, doc_id, h,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        | FROM (SELECT lang, doc_id, md5('cls:' || doc_id::VARCHAR) AS h
        |       FROM documents))
        |WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,
    "d_distinct_kmv" -> kmvOracleSql,
    // the Aggregator spelling is semantics-identical — same oracle
    "d_distinct_kmv_agg" -> kmvOracleSql,
    "d_distinct_hll" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT source, tok FROM (
         |    SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS tok
         |    FROM documents)),
         |h AS (SELECT source, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
         |r AS (SELECT source, h % 256 AS bucket,
         |    CASE WHEN h // 256 = 0 THEN ${graft.functions.HllSketchAggregator.RhoCap}
         |         ELSE 1 + bit_count(((h // 256) & -(h // 256)) - 1) END AS rho
         |  FROM h),
         |reg AS (SELECT source, bucket, MAX(rho) AS rr FROM r GROUP BY 1, 2),
         |agg AS (SELECT source,
         |    CAST(SUM(1::BIGINT << (${graft.functions.HllSketchAggregator.RhoCap} - rr)) AS BIGINT) AS s_present,
         |    COUNT(*) AS nb
         |  FROM reg GROUP BY 1),
         |exact AS (SELECT source, COUNT(*) AS n_exact FROM h GROUP BY 1)
         |SELECT e.source AS source, n_exact,
         |  s_present + (256 - nb) * (1::BIGINT << ${graft.functions.HllSketchAggregator.RhoCap}) AS hll_s,
         |  (256 - nb)::BIGINT AS hll_zeros,
         |  CAST(${graft.functions.HllSketchAggregator.AlphaNum} AS DOUBLE) /
         |    CAST(s_present + (256 - nb) * (1::BIGINT << ${graft.functions.HllSketchAggregator.RhoCap}) AS DOUBLE) AS hll_est
         |FROM exact e JOIN agg USING (source)
         |ORDER BY e.source""".stripMargin,
    "d_domain_cap" ->
      s"""SELECT source, doc_id, rk FROM (
         |  SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY md5('cap:' || doc_id::VARCHAR), doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= ${CapK} ORDER BY source, rk""".stripMargin,
    "d_curriculum" ->
      """SELECT doc_id, n_chars // 512 AS band,
        |  ROW_NUMBER() OVER (ORDER BY n_chars // 512,
        |    md5('curr:' || doc_id::VARCHAR), doc_id) - 1 AS pos
        |FROM documents ORDER BY pos""".stripMargin,
    "d_sample_weighted" ->
      s"""SELECT doc_id, n_chars, priority, rk FROM (
         |  SELECT doc_id, n_chars,
         |    CAST(n_chars AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) /
         |      CAST((('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 15))::BIGINT + 1) AS DOUBLE)
         |      AS priority,
         |    ROW_NUMBER() OVER (ORDER BY
         |      CAST(n_chars AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) /
         |        CAST((('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 15))::BIGINT + 1) AS DOUBLE) DESC,
         |      doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= ${WeightedK} ORDER BY rk""".stripMargin,
    "d_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 7 != 6),
        |v2 AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 5 != 4)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN v1.fp != v2.fp THEN 'changed' ELSE 'same' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin,
    "d_drift_chi2" ->
      """WITH d AS (SELECT
        |    (len(regexp_extract_all(lower(text), '[a-z0-9]+')) // 25)::BIGINT AS bucket,
        |    doc_id % 2 = 0 AS in_a
        |  FROM documents),
        |counts AS (SELECT bucket,
        |    SUM(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    SUM(CASE WHEN in_a THEN 0 ELSE 1 END)::BIGINT AS n_b
        |  FROM d GROUP BY 1),
        |t AS (SELECT SUM(n_a)::BIGINT AS t_a, SUM(n_b)::BIGINT AS t_b FROM counts),
        |pq AS (SELECT bucket, n_a, n_b,
        |    CAST(n_a AS DOUBLE) / CAST(t_a AS DOUBLE) AS p,
        |    CAST(n_b AS DOUBLE) / CAST(t_b AS DOUBLE) AS q
        |  FROM counts, t)
        |SELECT bucket, n_a, n_b,
        |  floor((p - q) * (p - q) / (p + q) * 1e6 + 0.5) / 1e6 AS chi2_r
        |FROM pq ORDER BY bucket""".stripMargin,
    "d_sparse_cosine" ->
      """WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS norm
        |  FROM tf GROUP BY 1),
        |rare AS (SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1)
        |  WHERE df <= 100),
        |capped AS (SELECT tf.doc_id, tf.tok FROM tf JOIN rare USING (tok)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM capped a JOIN capped b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |num AS (SELECT a_id, b_id, CAST(SUM(ta.tf * tb.tf) AS BIGINT) AS dot
        |  FROM cand JOIN tf ta ON cand.a_id = ta.doc_id
        |            JOIN tf tb ON cand.b_id = tb.doc_id AND ta.tok = tb.tok
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, dot,
        |  CAST(dot AS DOUBLE) / (na.norm * nb.norm) AS cosine
        |FROM num JOIN norms na ON a_id = na.doc_id
        |         JOIN norms nb ON b_id = nb.doc_id
        |WHERE CAST(dot AS DOUBLE) / (na.norm * nb.norm) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    "d_sparse_cosine_frac" ->
      """WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS norm
        |  FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |rare AS (SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1), nd
        |  WHERE df * 5 <= n_docs),
        |capped AS (SELECT tf.doc_id, tf.tok FROM tf JOIN rare USING (tok)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM capped a JOIN capped b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |num AS (SELECT a_id, b_id, CAST(SUM(ta.tf * tb.tf) AS BIGINT) AS dot
        |  FROM cand JOIN tf ta ON cand.a_id = ta.doc_id
        |            JOIN tf tb ON cand.b_id = tb.doc_id AND ta.tok = tb.tok
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, dot,
        |  CAST(dot AS DOUBLE) / (na.norm * nb.norm) AS cosine
        |FROM num JOIN norms na ON a_id = na.doc_id
        |         JOIN norms nb ON b_id = nb.doc_id
        |WHERE CAST(dot AS DOUBLE) / (na.norm * nb.norm) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    "d_collocations" ->
      """WITH tk AS (SELECT doc_id,
        |   regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |uni AS (SELECT tok, COUNT(*) AS c1 FROM (
        |   SELECT unnest(toks) AS tok FROM tk) GROUP BY 1),
        |total AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_total FROM uni),
        |bi AS (SELECT bigram, COUNT(*) AS c_ab FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) ELSE
        |      list_transform(generate_series(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i + 1]) END) AS bigram
        |    FROM tk) GROUP BY 1 HAVING COUNT(*) >= 5)
        |SELECT bigram, c_ab, c_a, c_b,
        |  CAST(c_ab * n_total AS DOUBLE) / CAST(c_a * c_b AS DOUBLE) AS lift
        |FROM (SELECT bi.bigram, bi.c_ab, ua.c1 AS c_a, ub.c1 AS c_b
        |  FROM bi JOIN uni ua ON split_part(bi.bigram, ' ', 1) = ua.tok
        |          JOIN uni ub ON split_part(bi.bigram, ' ', 2) = ub.tok), total
        |ORDER BY lift DESC, bigram LIMIT 100""".stripMargin,
    "d_bigram_coverage" ->
      """WITH tk AS (SELECT doc_id,
        |   regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |bi_all AS (SELECT doc_id,
        |   unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) ELSE
        |     list_transform(generate_series(1, len(toks) - 1),
        |       i -> toks[i] || ' ' || toks[i + 1]) END) AS bigram
        | FROM tk),
        |freq AS (SELECT bigram FROM bi_all GROUP BY 1 HAVING COUNT(*) >= 5),
        |tot AS (SELECT doc_id, COUNT(*) AS n_bigrams FROM bi_all GROUP BY 1),
        |hits AS (SELECT doc_id, COUNT(*) AS n_hits
        |  FROM bi_all JOIN freq USING (bigram) GROUP BY 1)
        |SELECT t.doc_id, n_bigrams, COALESCE(n_hits, 0) AS n_hits,
        | CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS coverage
        |FROM tot t LEFT JOIN hits USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "d_quality_gate_rel" ->
      """WITH d AS (SELECT doc_id, lang,
        |   CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS BIGINT) AS n_tokens
        | FROM documents),
        |th AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS p50 FROM d GROUP BY 1)
        |SELECT doc_id, d.lang AS lang, n_tokens, p50
        |FROM d JOIN th ON d.lang = th.lang
        |WHERE CAST(n_tokens AS DOUBLE) >= p50
        |ORDER BY doc_id""".stripMargin,
    "d_sample_pps" ->
      """WITH tot AS (SELECT SUM(n_chars) AS total_chars FROM documents)
        |SELECT doc_id, n_chars,
        | CAST(n_chars * 100 AS DOUBLE) / CAST(total_chars AS DOUBLE) AS p
        |FROM documents, tot
        |WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT AS DOUBLE)
        |    / 4503599627370496.0
        |  < CAST(n_chars * 100 AS DOUBLE) / CAST(total_chars AS DOUBLE)
        |ORDER BY doc_id""".stripMargin,
    "d_winsorize" ->
      """WITH ranked AS (SELECT doc_id, lang, n_chars,
        |   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |   COUNT(*) OVER (PARTITION BY lang) AS n
        | FROM documents),
        |bounds AS (SELECT lang,
        |   MIN(CASE WHEN rn = (n - 1) * 10 // 100 + 1 THEN n_chars END) AS lo,
        |   MIN(CASE WHEN rn = (n - 1) * 90 // 100 + 1 THEN n_chars END) AS hi
        | FROM ranked
        | WHERE rn = (n - 1) * 10 // 100 + 1 OR rn = (n - 1) * 90 // 100 + 1
        | GROUP BY 1)
        |SELECT doc_id, d.lang AS lang, n_chars, lo, hi,
        | GREATEST(lo, LEAST(hi, n_chars)) AS clipped
        |FROM documents d JOIN bounds b ON d.lang = b.lang
        |ORDER BY doc_id""".stripMargin,
    "d_bm25" -> {
      // identical expression tree to the Spark side: every op is IEEE
      // exactly-rounded, so same tree ⇒ same bits (see bm25's header)
      def w(i: Int) =
        s"(((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE)) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))" +
          s" * ((CAST(tf$i AS DOUBLE) * 2.2) / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))"
      val tfCols = bmTerms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(toks, x -> x = '$t'))::BIGINT AS tf$i" }.mkString(",\n    ")
      val dfCols = bmTerms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::BIGINT AS df$i").mkString(",\n    ")
      val outTf = bmTerms.zipWithIndex.map { case (t, i) => s"tf$i AS tf_$t" }.mkString(", ")
      s"""WITH tf AS (
         |  SELECT doc_id, len(toks)::BIGINT AS dl,
         |    $tfCols
         |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents)),
         |stats AS (
         |  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl,
         |    $dfCols
         |  FROM tf),
         |s2 AS (SELECT *, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM stats)
         |SELECT doc_id, $outTf,
         |  round((${w(0)} + ${w(1)}) + ${w(2)}, 6) AS score_r
         |FROM tf, s2
         |ORDER BY score_r DESC, doc_id""".stripMargin
    },
    "d_bpe_merges" ->
      s"""WITH $bpeCtes
         |${(1 to BpeIters).map(k =>
             s"SELECT $k::BIGINT AS it, a AS pair_a, b AS pair_b, " +
               s"a || b AS merged, cnt FROM top$k").mkString("\nUNION ALL\n")}
         |ORDER BY it""".stripMargin,
    "d_bpe_encode" -> {
      // recompute the merges in-query (same CTEs), then apply them to every
      // word as COLUMN expressions via a cross join of the 8 one-row tops
      val applied = (1 to BpeIters).foldLeft(
        "'  ' || array_to_string(string_split(w, ''), '  ') || '  '") {
        (e, k) =>
          s"replace($e, ' ' || t$k.a || '  ' || t$k.b || ' ', " +
            s"' ' || t$k.a || t$k.b || ' ')"
      }
      val tops = (1 to BpeIters).map(k => s"top$k t$k").mkString(", ")
      s"""WITH $bpeCtes,
         |wordsyms AS (
         |  SELECT doc_id,
         |    len(string_split(trim($applied), '  '))::BIGINT AS ns
         |  FROM (SELECT doc_id, unnest($tokensSql) AS w FROM documents), $tops)
         |SELECT doc_id, count(*)::BIGINT AS n_words, sum(ns)::BIGINT AS n_syms,
         |  round(sum(ns)::DOUBLE / count(*)::DOUBLE, 6) AS fertility
         |FROM wordsyms GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "d_split_leakage_safe" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT a_id, b_id FROM scored
         |  WHERE n_common::DOUBLE / n_union::DOUBLE >= 0.7),
         |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  SELECT s AS id, d AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
         |clusters AS (SELECT id, least(id, min(r)) AS cluster_id
         |  FROM reach GROUP BY id),
         |assigned AS (SELECT d.doc_id,
         |    coalesce(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ('0x' || substr(md5(cluster_id::VARCHAR), 1, 8))::BIGINT % 100 < 90
         |    THEN 'train'
         |   WHEN ('0x' || substr(md5(cluster_id::VARCHAR), 1, 8))::BIGINT % 100 < 95
         |    THEN 'val' ELSE 'test' END AS split
         |FROM assigned ORDER BY doc_id""".stripMargin,
    "d_bradley_terry" ->
      s"""WITH $btCtes
         |SELECT b.source, b.wins, b.n_matches,
         |  floor(it$BtIters.p * 1e6 + 0.5) / 1e6 AS strength_r
         |FROM base b JOIN it$BtIters ON b.source = it$BtIters.source
         |ORDER BY b.source""".stripMargin,
    "d_split" ->
      """SELECT doc_id,
        | ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket,
        | CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90
        |   THEN 'train'
        |  WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 95
        |   THEN 'val' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_top_terms" ->
      s"""WITH tok AS (SELECT doc_id, source, unnest($tokensSql) AS tok
         |  FROM documents),
         |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |idf AS (SELECT tok,
         |    round(((CAST(n_docs AS DOUBLE) - CAST(count(DISTINCT doc_id) AS DOUBLE)) + 0.5)
         |      / (CAST(count(DISTINCT doc_id) AS DOUBLE) + 0.5), 6) AS idf_r
         |  FROM tok, n GROUP BY tok, n_docs),
         |scored AS (SELECT source, t.tok, count(*)::BIGINT AS tf,
         |    CAST(count(*) AS DOUBLE) * any_value(idf_r) AS score
         |  FROM tok t JOIN idf ON t.tok = idf.tok GROUP BY 1, 2),
         |r AS (SELECT source, tok, tf, score,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, tok) AS rk
         |  FROM scored)
         |SELECT source, rk::BIGINT AS rk, tok, tf, score
         |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    "d_profile" ->
      """WITH w AS (SELECT count(*)::BIGINT AS n_rows,
        |   sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS lang_nulls,
        |   count(DISTINCT lang)::BIGINT AS lang_distinct,
        |   sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT AS source_nulls,
        |   count(DISTINCT source)::BIGINT AS source_distinct,
        |   sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS text_nulls,
        |   count(DISTINCT text)::BIGINT AS text_distinct,
        |   min(len(text))::BIGINT AS text_min_len,
        |   max(len(text))::BIGINT AS text_max_len
        | FROM documents)
        |SELECT 'lang' AS column_name, n_rows, lang_nulls AS n_nulls,
        |  lang_distinct AS n_distinct, NULL::BIGINT AS min_len,
        |  NULL::BIGINT AS max_len FROM w
        |UNION ALL
        |SELECT 'source', n_rows, source_nulls, source_distinct,
        |  NULL::BIGINT, NULL::BIGINT FROM w
        |UNION ALL
        |SELECT 'text', n_rows, text_nulls, text_distinct,
        |  text_min_len, text_max_len FROM w
        |ORDER BY column_name""".stripMargin,
    "d_quantile_norm" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |g AS (SELECT n_chars AS g_v,
        |   ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS pos FROM d),
        |nt AS (SELECT COUNT(*) AS n_tot FROM d),
        |r AS (SELECT doc_id, source, n_chars,
        |   ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |   COUNT(*) OVER (PARTITION BY source) AS n_s
        | FROM d)
        |SELECT r.doc_id, r.source, r.n_chars, g.g_v AS norm_chars
        |FROM r CROSS JOIN nt JOIN g
        | ON (CASE WHEN n_s > 1 THEN (rn - 1) * (n_tot - 1) // (n_s - 1)
        |      ELSE (n_tot - 1) // 2 END) = g.pos
        |ORDER BY r.doc_id""".stripMargin,
    "d_fim_split" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |f AS (SELECT doc_id, toks, len(toks)::BIGINT AS n,
         |    ('0x' || substr(md5('fim1:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h1,
         |    ('0x' || substr(md5('fim2:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h2
         |  FROM d WHERE len(toks) >= 3),
         |c AS (SELECT doc_id, toks, n, h1 % (n - 2) + 1 AS c1,
         |    (h1 % (n - 2) + 1) + h2 % (n - (h1 % (n - 2) + 1) - 1) + 1 AS c2
         |  FROM f)
         |SELECT doc_id, n AS n_tokens, c1::BIGINT AS c1, c2::BIGINT AS c2,
         |  md5('<fim_prefix> ' ||
         |    array_to_string(list_slice(toks, 1, c1::INT), ' ') ||
         |    ' <fim_suffix> ' ||
         |    array_to_string(list_slice(toks, (c2 + 1)::INT, n::INT), ' ') ||
         |    ' <fim_middle> ' ||
         |    array_to_string(list_slice(toks, (c1 + 1)::INT, c2::INT), ' '))
         |    AS psm_md5
         |FROM c ORDER BY doc_id""".stripMargin,
    "d_span_corrupt" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |b AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0)
         |SELECT doc_id, n::BIGINT AS n_tokens,
         | array_to_string(list_filter(list_transform(generate_series(0, n - 1), i ->
         |   CASE WHEN i % 10 < 3 AND (i // 10) * 10 + 3 <= n
         |        THEN CASE WHEN i % 10 = 0
         |             THEN '<extra_id_' || (i // 10)::VARCHAR || '>' END
         |        ELSE toks[i + 1] END), x -> x IS NOT NULL), ' ') AS input_text,
         | array_to_string(flatten(list_transform(generate_series(0, (n - 1) // 10), sp ->
         |   CASE WHEN sp * 10 + 3 <= n
         |        THEN list_prepend('<extra_id_' || sp::VARCHAR || '>',
         |          toks[sp * 10 + 1 : sp * 10 + 3])
         |        ELSE []::VARCHAR[] END)), ' ') AS target_text
         |FROM b ORDER BY doc_id""".stripMargin,
    "d_cms_heavy" ->
      s"""WITH tok AS (SELECT unnest($tokensSql) AS tok FROM documents),
         |ids AS (SELECT i FROM range(0, 4) r(i)),
         |cells AS (SELECT i,
         |   ('0x' || substr(md5('cms-' || i::VARCHAR || '-' || tok), 1, 8))::BIGINT % 256 AS cell
         | FROM tok, ids),
         |sk AS (SELECT i, cell, COUNT(*) AS c FROM cells GROUP BY 1, 2),
         |exact AS (SELECT tok, COUNT(*) AS exact_cnt FROM tok GROUP BY 1),
         |top AS (SELECT tok, exact_cnt FROM exact
         |  ORDER BY exact_cnt DESC, tok LIMIT 20),
         |pr AS (SELECT tok, exact_cnt, i,
         |   ('0x' || substr(md5('cms-' || i::VARCHAR || '-' || tok), 1, 8))::BIGINT % 256 AS cell
         | FROM top, ids)
         |SELECT pr.tok AS tok, pr.exact_cnt AS exact_cnt, MIN(c) AS est_cnt
         |FROM pr JOIN sk ON pr.i = sk.i AND pr.cell = sk.cell
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "d_release_manifest" ->
      s"""WITH base AS (SELECT doc_id, lang, text,
         |   CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS BIGINT)
         |     AS n_tokens
         | FROM documents),
         |gated AS (SELECT * FROM base WHERE n_tokens >= 50),
         |surv AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
         |kept AS (SELECT g.doc_id, g.lang, g.n_tokens,
         |   ('0x' || substr(md5(g.doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
         | FROM gated g JOIN surv USING (doc_id))
         |SELECT CASE WHEN bucket < 90 THEN 'train'
         |   WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
         | lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d_vocab" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
         |v AS (SELECT tok, count(*)::BIGINT AS tf,
         |    count(DISTINCT doc_id)::BIGINT AS df_docs
         |  FROM tok GROUP BY tok),
         |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
         |SELECT tok, tf, df_docs,
         |  round(((CAST(n_docs AS DOUBLE) - CAST(df_docs AS DOUBLE)) + 0.5)
         |    / (CAST(df_docs AS DOUBLE) + 0.5), 6) AS idf_r
         |FROM v, n ORDER BY tok""".stripMargin,
    "d_source_report" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, lang, len(text)::BIGINT AS n_chars,
         |    len(toks)::BIGINT AS n_tokens,
         |    len(list_filter(toks, t -> list_contains($stopSql, t)))::BIGINT AS n_stop,
         |    (len(text) - len(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::BIGINT AS n_punct
         |  FROM (SELECT doc_id, text, source, lang, $tokensSql AS toks FROM documents)),
         |survivors AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT source, lang, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS n_tokens, sum(n_chars)::BIGINT AS n_chars,
         |  sum(CASE WHEN n_tokens >= 10 AND n_stop * 2 < n_tokens
         |      AND n_punct * 5 < n_tokens THEN 1 ELSE 0 END)::BIGINT AS n_quality_ok,
         |  sum(CASE WHEN s.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_dups
         |FROM base b LEFT JOIN survivors s ON b.doc_id = s.doc_id
         |GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "d_budget_select" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |m AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    len(list_filter(toks, t -> list_contains($stopSql, t)))::BIGINT AS n_stop
         |  FROM tk WHERE len(toks) > 0),
         |s AS (SELECT doc_id, n_tokens,
         |    CAST(n_tokens - n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS merit
         |  FROM m),
         |c AS (SELECT doc_id, n_tokens, merit,
         |    coalesce(SUM(n_tokens) OVER (ORDER BY merit DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS tokens_before
         |  FROM s)
         |SELECT doc_id, n_tokens, round(merit, 6) AS merit_r, tokens_before
         |FROM c WHERE tokens_before < $SelectBudget ORDER BY doc_id""".stripMargin,
    "d_chunks" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |    unnest(generate_series(0, greatest(len(toks) - 1, 0) // $ChunkStride)) AS ci
         |  FROM d)
         |SELECT doc_id, ci::BIGINT AS chunk_idx,
         | len(list_slice(toks, ci * $ChunkStride + 1, ci * $ChunkStride + $ChunkTokens))::BIGINT AS n_chunk,
         | md5(array_to_string(list_slice(toks, ci * $ChunkStride + 1, ci * $ChunkStride + $ChunkTokens), ' ')) AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "d_chunks_cdc" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, text,
         |    list_filter(list_transform(generate_series(1, greatest(len(text) - 7, 1)),
         |      i -> CASE WHEN list_reduce(list_prepend(0::BIGINT,
         |          list_transform(generate_series(i, i + 7), j -> ascii(substr(text, j::INT, 1))::BIGINT)),
         |          (a, x) -> (a * $RollBase + x) % $RollMod) % $CdcMask = 0
         |        THEN i ELSE -1 END), x -> x > 1) AS cands
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, 1::BIGINT AS pos FROM d
         |  UNION ALL
         |  SELECT doc_id, np AS pos FROM (
         |    SELECT b.doc_id,
         |      least(
         |        list_min(list_filter(d.cands,
         |          x -> x >= b.pos + $CdcMinLen AND x <= b.pos + $CdcMaxLen)),
         |        CASE WHEN len(d.text) - b.pos + 1 > $CdcMaxLen
         |          THEN b.pos + $CdcMaxLen END) AS np
         |    FROM b JOIN d USING (doc_id)) t WHERE np IS NOT NULL),
         |st AS (SELECT doc_id, list_sort(list(pos)) AS starts FROM b GROUP BY doc_id),
         |c AS (SELECT st.doc_id, d.text, st.starts,
         |    unnest(generate_series(1, len(st.starts))) AS j
         |  FROM st JOIN d USING (doc_id)),
         |se AS (SELECT doc_id, text, (j - 1)::BIGINT AS chunk_idx, starts[j] AS s,
         |    CASE WHEN j = len(starts) THEN len(text) ELSE starts[j + 1] - 1 END AS e
         |  FROM c)
         |SELECT doc_id, chunk_idx, s::BIGINT AS start_pos,
         | (e - s + 1)::BIGINT AS n_chars,
         | md5(substr(text, s::INT, (e - s + 1)::INT)) AS chunk_md5
         |FROM se ORDER BY doc_id, chunk_idx""".stripMargin,
    "d_corpus_pipeline" -> {
      val counts = langMarkers.map { case (lang, ms) =>
        val arr = ms.map(m => s"'$m'").mkString("[", ", ", "]")
        s"len(list_filter(toks, t -> list_contains($arr, t)))::BIGINT AS n_$lang"
      }.mkString(",\n    ")
      s"""WITH d AS (SELECT doc_id, text, $tokensSql AS toks FROM documents),
         |lang AS (SELECT doc_id, text, toks,
         |    $counts
         |  FROM d),
         |en AS (SELECT * FROM lang WHERE n_en >= n_de AND n_en >= n_fr AND n_en >= n_es),
         |qual AS (SELECT doc_id, text, toks FROM (
         |    SELECT *, len(toks)::BIGINT AS n_tokens,
         |      len(list_filter(toks, t -> list_contains($stopSql, t)))::BIGINT AS n_stop,
         |      (len(text) - len(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::BIGINT AS n_punct
         |    FROM en)
         |  WHERE n_tokens >= 25 AND n_stop * 5 < n_tokens AND n_punct * 5 < n_tokens),
         |surv AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(text)),
         |sd AS (SELECT q.doc_id, q.toks FROM qual q JOIN surv s ON q.doc_id = s.doc_id),
         |c AS (SELECT doc_id, toks,
         |    unnest(generate_series(0, greatest(len(toks) - 1, 0) // $ChunkStride)) AS ci
         |  FROM sd)
         |SELECT doc_id, ci::BIGINT AS chunk_idx,
         | len(list_slice(toks, ci * $ChunkStride + 1, ci * $ChunkStride + $ChunkTokens))::BIGINT AS n_chunk,
         | md5(array_to_string(list_slice(toks, ci * $ChunkStride + 1, ci * $ChunkStride + $ChunkTokens), ' ')) AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
    },
    "m_binary_meta" ->
      """SELECT doc_id,
        | octet_length(encode(text))::BIGINT AS n_bytes,
        | md5(text) AS content_md5,
        | to_base64(encode(substr(text, 1, 16))) AS head_b64
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
