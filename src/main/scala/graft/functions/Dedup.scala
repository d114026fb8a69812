package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication operators (north-star extension; the reference's own dedup is
  * row-level on `(_ts, _dedup)` at segment merge — `/root/reference/README.md:15,22`).
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison. Exact dedup is a
  * hash-groupBy (one shuffle on a 128-bit digest). MinHash-LSH and SimHash reduce
  * candidate generation to equi-joins on band/bucket keys — the only pairs ever
  * materialized are hash-bucket collisions, which is what makes near-dedup feasible on
  * a 100 TB corpus where brute force is ~10^21 comparisons.
  */
object Dedup {

  /** Normalized content digest for exact dedup: lowercase, trim, collapse whitespace. */
  def contentHash(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Exact dedup: keep one deterministic representative per content hash (min id).
    * One shuffle on the digest; map-side partial aggregation shrinks it first.
    *
    * Implemented as `min(struct(id, rest...))` per digest, NOT a row_number
    * window: the struct compares on id first (asc, like the window's orderBy),
    * so the surviving row is identical — but the hash aggregate combines
    * map-side (every input partition forwards ONE candidate per digest instead
    * of every duplicate) and skips the window's per-partition sort. On a
    * duplicate-heavy crawl corpus that is the difference between shuffling the
    * corpus and shuffling its distinct contents (guide §2.3). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val rest = df.columns.filterNot(_ == idCol).toSeq
    df.groupBy(contentHash(col(textCol)).as("__ch"))
      .agg(min(struct((idCol +: rest).map(col): _*)).as("__r"))
      .select(df.columns.toIndexedSeq.map(c => col("__r").getField(c).as(c)): _*)
  }

  /** Exact-duplicate groups: digest → group size + representative id. */
  def duplicateGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("rep_id"))

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** Portable 60-bit content hash: first 15 hex digits of md5 as an integer.
    * Reproducible in any engine with md5 + integer ops (the DuckDB oracles compute
    * it verbatim as `('0x' || substr(md5(x), 1, 15))::BIGINT`) — same trick as
    * TextAnalysis.fingerprint. xxhash64 would be faster but is not reproducible
    * outside the JVM, which would leave the sketch pipelines unverifiable. */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** MinHash universe: 2^31-1 (Mersenne prime). Affine coefficients stay below
    * 2^31 so every `a*h + b` intermediate fits a 64-bit signed integer — no
    * overflow in Spark OR in engines that error on overflow (DuckDB). */
  val MinHashP = 2147483647L
  def minhashA(i: Int): Long = ((i * 2654435761L + 1013904223L) % (MinHashP - 1)) + 1
  def minhashB(i: Int): Long = (i * 2246822519L + 3266489917L) % MinHashP

  /** MinHash signature over a PRE-HASHED shingle array (values in [0, MinHashP)):
    * component i = min over shingles of the affine permutation (a_i*h + b_i) mod p.
    * Entirely codegen'd array expressions — per-row cost is O(#shingles × #hashes)
    * with zero shuffle; deterministic (fixed coefficients, no RNG).
    *
    * Perf contract (as TextAnalysis.shinglesOf): `hashedShingles` must be a
    * materialized attribute — inlining the md5 mapping here would re-evaluate it
    * once per signature component (numHashes×). */
  def minHashSignatureFromHashes(hashedShingles: Column, numHashes: Int = 128): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(hashedShingles,
        h => (h * minhashA(i) + minhashB(i)) % MinHashP))): _*)

  /** Convenience signature straight from shingle strings (fine for small/ad-hoc
    * use and tests; pipelines must materialize the hashed array first — see
    * minHashSignatureFromHashes perf contract). */
  def minHashSignature(shingleSet: Column, numHashes: Int = 128): Column =
    minHashSignatureFromHashes(
      transform(shingleSet, s => portableHash60(s) % MinHashP), numHashes)

  /** LSH band keys: split a signature into `bands` bands of `signatureLen/bands` rows
    * and hash each band to ONE long (64-bit key — the band shuffle carries 8 bytes per
    * (doc, band), never the signature array). Two docs sharing ≥1 band key become a
    * candidate pair. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(lit(b), slice(signature, b * rowsPerBand + 1, rowsPerBand))): _*)

  /** MinHash signature table: `(id, sig)` — the one (and only) pass over the corpus
    * text. Each stage is a separate projection ON PURPOSE: tokens → shingles →
    * signature. Inlining them re-evaluates the upstream expression once per lambda
    * element AND once per hash seed (64×), which is catastrophically slow — see the
    * perf contract on TextAnalysis.shinglesOf. */
  def minHashSignatures(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 128, shingleK: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
        TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
      .select(col("id"), TextAnalysis.shinglesOf(col("__toks"), shingleK).as("__sh"))
      .select(col("id"),
        transform(col("__sh"), s => portableHash60(s) % MinHashP).as("__h"))
      .select(col("id"), minHashSignatureFromHashes(col("__h"), numHashes).as("sig"))

  /** Candidate pair ids from a signature table via banded LSH. Only `(band_key, id)`
    * rides the shuffle (16 bytes/row); pairs are `distinct()`-ed HERE, before any
    * verification expression ever runs — each surviving pair is verified exactly once
    * downstream. At 100 TB this is the difference between shuffling 8-byte keys and
    * shuffling 64-long signature arrays 2×bands times. */
  def lshCandidatePairs(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val keyed = sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val a = keyed.select(col("band"), col("id").as("id_a"))
    val b = keyed.select(col("band"), col("id").as("id_b"))
    a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Signature-estimated Jaccard for verified pairs: re-attach the two signatures to
    * the (already distinct) candidate ids and compute the match fraction once/pair. */
  def estJaccard(pairs: DataFrame, sigs: DataFrame, numHashes: Int): DataFrame =
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => (x === y).cast("int")),
          v => v === 1)).cast("double") / numHashes).as("est_jaccard"))

  /** Near-duplicate pairs via MinHash-LSH, verified by signature-estimated Jaccard ≥
    * threshold. The signature table is computed once and persisted; the band self-join
    * carries ids only; pairs are deduped before the (single) verification pass. */
  def minHashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          numHashes: Int = 128, bands: Int = 32,
                          threshold: Double = 0.7, shingleK: Int = 3): DataFrame = {
    val sigs = Caching.materialize(
      minHashSignatures(df, textCol, idCol, numHashes, shingleK))
    val pairs = lshCandidatePairs(sigs, bands, numHashes / bands)
    estJaccard(pairs, sigs, numHashes).filter(col("est_jaccard") >= threshold)
  }

  // ------------------------------------------------------------------
  // Exact substring-span dedup
  // ------------------------------------------------------------------

  /** Exact substring-span deduplication stats (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" operation:
    * remove REPEATED SPANS, not whole documents — doc-level exact/near dedup
    * misses the boilerplate a crawl repeats inside otherwise-unique pages).
    * Span granularity instead of suffix arrays — the Spark-shaped
    * equivalent: every k-token window keys by an 8-byte portable hash, the
    * GLOBALLY FIRST occurrence (smallest (doc, pos)) is kept, every later
    * occurrence is a duplicate, and a token is "removed" when any duplicate
    * span covers it. Output per doc: (id, n_tokens, dup_spans,
    * removed_tokens).
    *
    * 100 TB posture: shuffle volume is ONE 8-byte-keyed row per token (the
    * same order as any tokenize pass). The keep-first occurrence per span
    * is a map-side-combinable min(struct(id, pos)) aggregate — NOT a
    * window rank: a window partitioned by the span hash sends every
    * occurrence of a hot boilerplate span (the operator's own target:
    * footers repeated 10⁸×) into ONE task's sort, while the aggregate
    * combines per-partition. The spans table is never rejoined: a doc's
    * duplicate positions are exactly its span positions MINUS its keeper
    * positions, so the per-doc stats derive from the keeper set alone
    * (hashed once, shuffled twice — by span key, then keepers-only by doc).
    * No pairwise candidate blowup at any corpus size, no driver state. */

  /** The k-token span table of a token array: array<struct<pos:int,h:bigint>>
    * with h = portableHash60 of the space-joined window, from one
    * streaming-md5 pass per doc (the graft_span_hashes kernel). Select-only,
    * so it composes with a streaming DataFrame unchanged. Fewer than k
    * tokens (or k < 1) → empty; null token array → null. */
  def spanHashes(toks: Column, k: Int): Column =
    call_function("graft_span_hashes", toks, lit(k))

  def substringSpanStats(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "substringSpanStats: k must be >= 1")
    val toks = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(lower(col(textCol))).as("t"))
      .select(col("id"), col("t"),
        // null text → null n_tokens (size(null) is -1, and the DuckDB
        // oracle's len(NULL) is NULL), and zero spans downstream
        when(col("t").isNotNull, size(col("t"))).as("n"))
    val spans = toks
      .select(col("id"), explode(spanHashes(col("t"), k)).as("sp"))
      .select(col("id"), col("sp.pos").as("pos"), col("sp.h").as("h"))
    val keepers = spans.groupBy(col("h"))
      .agg(min(struct(col("id"), col("pos"))).as("__first"))
      .select(col("__first.id").as("id"), col("__first.pos").as("kpos"))
    // per-doc kept-position sets (bounded by the doc's own span count)
    val keptPerDoc = keepers.groupBy(col("id"))
      .agg(collect_set(col("kpos")).as("__kept"))
    val joined = toks.join(keptPerDoc, Seq("id"), "left")
      .select(col("id"), col("n"),
        coalesce(col("__kept"), array().cast("array<int>")).as("__kept"))
    // per-doc tail in one coverage-array pass; n < k (or null text) → no
    // spans → (0, 0)
    joined
      .select(col("id"), col("n").cast("long").as("n_tokens"),
        when(col("n") >= k,
          call_function("graft_span_dup_stats", col("n"), lit(k), col("__kept")))
          .as("__st"))
      .select(col("id"), col("n_tokens"),
        coalesce(col("__st.dup"), lit(0L)).as("dup_spans"),
        coalesce(col("__st.rem"), lit(0L)).as("removed_tokens"))
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash over a PRE-MATERIALIZED per-token hash array (majority vote per
    * bit; null elements cast no vote and the majority denominator counts non-null
    * elements only) — the native SimHash64 kernel, one pass with no intermediate
    * arrays.
    *
    * Perf contract (as TextAnalysis.shinglesOf): `hashes` must be a materialized
    * attribute, not a nested transform(...) expression. */
  def simHashFromHashes(hashes: Column): Column =
    call_function(graft.plans.NativeExpressions.simhashName, hashes)

  /** 64-bit SimHash of a token multiset (convenience wrapper; pipelines should
    * materialize the hash array first and call simHashFromHashes). Token hashes are
    * the portable 60-bit md5 hash, so bits 60-63 are constant-zero — the effective
    * width is 60 bits, and the sketch is bit-for-bit reproducible in the oracle. */
  def simHash(tokensCol: Column): Column =
    simHashFromHashes(transform(tokensCol, t => portableHash60(t)))

  /** Hamming distance between two 64-bit SimHashes. */
  def hammingDistance64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------------------
  // 64-char bit-string hash utilities (perceptual hashes) — shared by the
  // batch and streaming image near-dup so the pigeonhole layout (8 chunks
  // of 8 bits: hamming ≤ 7 ⇒ at least one chunk matches exactly) and the
  // packed-long hamming stay locked together (the lshBandKeys convention).
  // ------------------------------------------------------------------

  /** Pack a 64-char '0'/'1' string into two 32-bit longs ONCE (per distinct
    * hash / per row), so downstream hamming is codegen'd xor+popcount, not a
    * per-pair 64-step string scan. */
  def bitsHi(hash: Column): Column =
    conv(substring(hash, 1, 32), 2, 10).cast("long")
  def bitsLo(hash: Column): Column =
    conv(substring(hash, 33, 32), 2, 10).cast("long")

  /** Hamming distance from the packed halves. */
  def hammingPacked(a1: Column, a2: Column, b1: Column, b2: Column): Column =
    bit_count(a1.bitwiseXOR(b1)) + bit_count(a2.bitwiseXOR(b2))

  /** The 8-bit chunk at index `ci` (0..7) of a 64-char bit string. */
  def bitChunk(hash: Column, ci: Column): Column =
    substr(hash, ci * 8 + 1, lit(8))

  /** 0-based index of the FIRST chunk where the two hashes agree — the
    * one-meet key: emitting only where firstAgreeingChunk == the joined
    * chunk index yields exactly one row per candidate pair. */
  def firstAgreeingChunk(a: Column, b: Column): Column =
    array_position(
      array((0 until 8).map(c =>
        (substring(a, c * 8 + 1, 8) === substring(b, c * 8 + 1, 8))
          .cast("int")): _*),
      1) - 1

  /** SimHash near-dup candidates: block on `maxHamming + 1` bit-chunks of the simhash
    * — by pigeonhole, any pair within `maxHamming` differing bits agrees on ≥1 full
    * chunk, so recall within the bound is exact (no silent loss; chunk count is
    * DERIVED from the bound, not fixed).
    *
    * Unlike MinHash (64-long signature arrays, verify AFTER distinct), the simhash
    * signature is ONE long and hamming is one xor+popcount — cheaper than the
    * distinct's own shuffle row. So the 8-byte sig rides the chunk join and pairs are
    * hamming-filtered BEFORE distinct: on template-heavy corpora whose biased bits
    * produce giant chunk buckets (observed: one 7-bit chunk bucket holding 45% of a
    * 5k corpus → 7M+ candidate pairs), this drops the distinct input from millions of
    * rows to just the true near-dups and removes both re-attach joins. */
  def simHashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 31, s"maxHamming out of range: $maxHamming")
    // Caching.materialize is a MATERIALIZATION BARRIER, not just a cache:
    // without it, CollapseProject inlines the full simhash expression into
    // every chunk-key expression below (9× per row, per join side) —
    // observed 396s vs 12s at sf0.1. (Bounded-registry persist; a bare
    // persist leaked one CacheManager entry per distinct plan.)
    // The INPUT is widened before the signature projection (not the barrier
    // after it, the r18 form): the tokenize + per-token hash + simhash fold
    // is the expensive stage, and a scan-rooted frame (one input split)
    // would compute it all on one task BEFORE any output-side spread could
    // help — measured cold (bench now clears barriers between passes, so
    // this stage is paid per sample): output-spread 1.15–1.55 s vs
    // input-spread ~0.9–1.0 s. The barrier itself then inherits the wide
    // partitioning, so the chunk-explode and both self-join legs read it
    // 32-wide with no further exchange. At 100 TB inputs arrive wide and
    // the repartition is skipped (same guard as Caching.materialize).
    val wide = Caching.spreadThin(
      df.select(col(idCol).as("id"), col(textCol).as("__t")))
    val sigs = Caching.materialize(wide
      .select(col("id"), TextAnalysis.tokens(lower(col("__t"))).as("__toks"))
      .select(col("id"), transform(col("__toks"), t => portableHash60(t)).as("__h"))
      .select(col("id"), simHashFromHashes(col("__h")).as("sim")))
    val chunks = maxHamming + 1
    val bounds = (0 to chunks).map(i => i * 64 / chunks)
    val chunkKeys = (0 until chunks).map { c =>
      val lo = bounds(c); val w = bounds(c + 1) - lo
      xxhash64(lit(c), call_function("shiftrightunsigned", col("sim"), lit(lo))
        .bitwiseAND(lit((1L << w) - 1)))
    }
    val keyed = sigs.select(col("id"), col("sim"), explode(array(chunkKeys: _*)).as("ck"))
    val a = keyed.select(col("ck"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = keyed.select(col("ck"), col("id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("ck")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hammingDistance64(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }

  /** n-gram Jaccard verification for a candidate pair set (post-LSH refinement). */
  def ngramJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double")

  /** Connected components over near-dup candidate pairs — the clustering tail
    * of a corpus-dedup pipeline (pairs → clusters → keep one doc per cluster).
    * Iterative min-label propagation: each round every node takes the minimum
    * label among itself and its neighbours; converges in O(component diameter)
    * rounds (near-dup clusters are tight — typically 1-3).
    *
    * Scale posture: each round is one equi-join on the edge list + one
    * aggregation — all distributed, labels never leave the cluster; the driver
    * only orchestrates the loop and runs an `isEmpty` convergence probe.
    * `localCheckpoint` truncates the per-round lineage so plan depth stays
    * constant. Output: (id, cluster) for EVERY node (singletons label
    * themselves); cluster = the component's minimum id. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          nodes: DataFrame, idCol: String,
                          maxIter: Int = 25): DataFrame = {
    val edges = Caching.materialize(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    var labels = nodes.select(col(idCol).as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val prop = edges
        .join(labels.select(col("id").as("src"), col("cluster")), "src")
        .groupBy(col("dst").as("id")).agg(min("cluster").as("__ncluster"))
      val stepped = labels
        .join(prop, Seq("id"), "left_outer")
        .select(col("id"), col("cluster").as("__old"),
          least(col("cluster"), coalesce(col("__ncluster"), col("cluster"))).as("cluster"))
      // pointer jumping: label(i) ← label(label(i)). Labels are node ids, so
      // one extra equi-join per round halves the remaining component
      // diameter — O(log d) rounds instead of O(d), which is what bounds the
      // round count (and its per-round job overhead) on long chains.
      val updated = stepped
        .join(stepped.select(col("id").as("__lid"), col("cluster").as("__lcl")),
          col("cluster") === col("__lid"), "left_outer")
        .select(col("id"),
          least(col("cluster"), coalesce(col("__lcl"), col("cluster"))).as("cluster"),
          (least(col("cluster"), coalesce(col("__lcl"), col("cluster")))
            =!= col("__old")).as("__chg"))
        .localCheckpoint(true)
      converged = updated.filter(col("__chg")).isEmpty
      labels = updated.drop("__chg")
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }
}
