package graft.operators

import graft.functions.{Sketches, TextFunctions}
import graft.plans.FanOut
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

import Barriers.oncePerRow

/** Deduplication operators for training-data pipelines (SURVEY.md §2.10):
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale notes (the designs are chosen for 100 TB, not 500 rows):
  *  - Exact dedup is a hash aggregation on a digest — one shuffle on the
  *    digest, map-side partial aggregation; never on raw text (shuffling
  *    full documents to compare equality wastes network).
  *  - Sketches (MinHash signature, SimHash) are custom Catalyst
  *    expressions ([[graft.functions.MinHashSignatureExpr]]) — one
  *    imperative pass per document instead of interpreted nested
  *    higher-order functions.
  *  - MinHash/LSH candidate generation is the published banding scheme
  *    (Broder; Leskovec et al., "Mining of Massive Datasets" ch.3): a doc
  *    emits `bands` rows, pairs form only inside equal (band, band-hash)
  *    buckets — an equi shuffle join, never an n² cross join. AQE's skew
  *    handling covers pathological buckets (e.g. boilerplate docs).
  *    The band index is exploded through a Generate node *before* the
  *    band hash is computed, so the signature expression is evaluated
  *    once per document, not once per band (projection collapse would
  *    otherwise inline it into every band).
  *  - SimHash blocking uses the pigeonhole split of the 64-bit signature
  *    into `blocks` equal slices: pairs within Hamming distance
  *    `blocks - 1` must agree on at least one slice, so candidates again
  *    form by equi join on (slice-index, slice-value).
  */
object Dedup {

  /** Derive the LSH band count from the target Jaccard threshold instead
    * of hand-tuning: with `numHashes = b·r`, a pair at similarity s
    * collides in ≥1 band with probability 1 − (1 − s^r)^b, an S-curve
    * whose inflection sits at ≈ (1/b)^(1/r) (Leskovec et al., "Mining of
    * Massive Datasets" ch. 3). Chooses the divisor pair whose inflection
    * is closest to — but not above — `threshold · margin`, so near-dups
    * at the threshold are caught with high probability while cheaper
    * (fewer-band) configurations are preferred. At corpus scale this is
    * the knob that trades candidate volume against recall; deriving it
    * from τ removes the static-parameter limit.
    */
  def recommendedBands(numHashes: Int, threshold: Double,
      margin: Double = 0.9): Int = {
    require(numHashes > 0 && threshold > 0 && threshold <= 1)
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    val target = threshold * margin
    val below = divisors.map { b =>
      val r = numHashes / b
      b -> math.pow(1.0 / b, 1.0 / r) // S-curve inflection
    }.filter(_._2 <= target)
    // fewest bands whose inflection still sits under the target; if none
    // qualifies (tiny numHashes, low τ), fall back to the most sensitive
    if (below.nonEmpty) below.maxBy(_._2)._1 else divisors.max
  }

  /** Per-document digest used for exact dedup: md5 of the raw text. */
  def withDigest(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("digest", md5(col(textCol)))

  /** Exact dedup: keep the lowest-id document per distinct text digest.
    * Aggregates on the 128-bit digest (16 B/row over the wire, not the
    * document body).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val keep = withDigest(docs, textCol)
      .groupBy("digest").agg(min(col(idCol)).as(idCol))
      .select(idCol) // drop the internal digest from the output schema
    docs.join(keep, idCol)
  }

  /** The full ingest step [[incrementalNew]]'s contract points at —
    * `exact ∘ incrementalNew`, fused so the batch digest is computed
    * once. `delta` is a freshly crawled batch; `corpus` the standing
    * already-deduplicated corpus. Returns the delta rows that survive:
    * not an exact duplicate of any corpus document, and the lowest-id
    * representative of each distinct text *within* the delta (a recrawl
    * batch carries internal re-fetch copies; [[incrementalNew]] alone
    * keeps them all).
    *
    * Scale notes (the shape that makes dedup O(|Δ|) per ingestion round
    * instead of O(|corpus|²) re-runs):
    *  - the corpus is touched only as its 16-byte digest column — at
    *    100 TB that column is a maintained digest INDEX (one bucketed
    *    parquet column, the freeze-and-append regime
    *    [[Similarity.ivfIndexAppend]] uses for vectors); with both
    *    sides bucketed on `digest` the anti join is exchange-free,
    *    otherwise it shuffles 16 B/row, never document text
    *    ([[incrementalNewBloom]] is the same step with a Bloom
    *    pre-filter when |corpus| ≫ |Δ|);
    *  - delta-internal dedup is the [[exact]] hash-agg shape (map-side
    *    partial min over the digest);
    *  - appending the survivors' digests to the index closes the loop:
    *    the next batch's anti join sees them with no corpus rescan.
    */
  def deltaExact(corpus: DataFrame, delta: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val corpusDigests = withDigest(corpus, textCol).select("digest").distinct()
    val keep = withDigest(delta, textCol)
      .join(corpusDigests, Seq("digest"), "left_anti")
      .groupBy("digest").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    delta.join(keep, idCol)
  }

  /** (id, MinHash signature) per document — one imperative expression
    * evaluation per row.
    */
  def signatures(docs: DataFrame, numHashes: Int = 64, shingleSize: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    FanOut.scan(docs).select(col(idCol).as("id"),
      Sketches.minhashSignature(TextFunctions.words(col(textCol)),
        numHashes, shingleSize).as("sig"))

  /** Estimated Jaccard similarity from two MinHash signatures: fraction of
    * agreeing positions.
    */
  def estJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(sigA)

  /** (id, `sig`) for every document with at least one word. A wordless
    * (empty or punctuation-only) document has no shingle evidence: its
    * seeded MinHash is all `Long.MaxValue` sentinels and its SimHash 0,
    * so it would pair with every other wordless document at estimate
    * 1.0 / hamming 0. Dropping them up front is also what the oracle
    * twins' `len(w) > 0` filter mirrors.
    */
  private def sketched(docs: DataFrame, idCol: String, textCol: String,
      sketch: Column): DataFrame =
    FanOut.scan(docs)
      .filter(size(TextFunctions.words(col(textCol))) > 0)
      .select(col(idCol).as("id"), sketch.as("sig"))

  /** MinHash+LSH near-duplicate candidate pairs with estimated Jaccard ≥
    * `threshold`. `bands` must divide `numHashes`. Returns
    * (id_a, id_b, est_jaccard), id_a < id_b, deduplicated across bands.
    * `family` picks the hash family; the banded pipeline is the same for
    * both (with [[HashFamily.Portable]] every stage is re-derivable by a
    * SQL oracle: the estimate is an exact multiple of 1/numHashes, so the
    * 6-d.p. round is the identity and the cut never sits on a boundary).
    */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5,
      numHashes: Int = 64, bands: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      family: HashFamily = HashFamily.Seeded): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigs = sketched(docs, idCol, textCol,
      family.minhash(TextFunctions.words(col(textCol)), numHashes, 3))
    // Generate sits between the signature projection and the band-key
    // projection: sig evaluates once per doc, band keying touches only
    // the r-long slice.
    val banded = sigs
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("b"))
      .select(col("id"), col("b"),
        family.bandKey(col("b"), slice(col("sig"), col("b") * r + 1, lit(r)))
          .as("h"))
    // Candidate dedup carries ONLY the id pair: a doc pair can collide in
    // up to `bands` buckets, and shuffling the two 64-long signatures
    // through the distinct (~1 kB/pair) dominates the dedup exchange at
    // scale. Signatures re-attach afterwards — one narrow join per side
    // (the signature recompute is embarrassingly-parallel map CPU; the
    // distinct's shuffle bytes are the scarce resource at 100 TB).
    val a = banded.select(col("b"), col("h"), col("id").as("id_a"))
    val b = banded.select(col("b"), col("h"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("b", "h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(estJaccard(col("sig_a"), col("sig_b")), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`.
    * Candidate generation by pigeonhole blocking: the 64-bit signature is
    * split into `maxHamming + 1` slices; any pair within the distance
    * shares at least one identical slice → equi join on (slice, value).
    * `family` picks the hash family (the portable one's two 32-bit halves
    * pack into the same 64-bit signature, so blocking and the
    * `bit_count(xor)` distance serve both).
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      family: HashFamily = HashFamily.Seeded): DataFrame = {
    val blocks = maxHamming + 1
    val width = 64 / blocks
    // the signature sits behind a oncePerRow barrier: as a plain alias,
    // the isnotnull(v) Catalyst infers from the (i, v) join key is pushed
    // below it with the kernel substituted in, so the scan Filter and the
    // Project would each evaluate the SimHash kernel
    val sigs = oncePerRow(sketched(docs, idCol, textCol, family.simhash(col(textCol))),
      "sig" -> family.simhash64(col("sig")))
    val blocked = sigs
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(blocks - 1))).as("i"))
      .select(col("id"), col("sig"), col("i"),
        // slice i: bits [i*width, (i+1)*width) — last block keeps the tail
        when(col("i") === blocks - 1, call_function("shiftright", col("sig"), col("i") * width))
          .otherwise(call_function("shiftright", col("sig"), col("i") * width)
            .bitwiseAND((1L << width) - 1)).as("v"))
    val a = blocked.select(col("i"), col("v"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = blocked.select(col("i"), col("v"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("i", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity between two precomputed distinct
    * shingle arrays.
    */
  def jaccard(gramsA: Column, gramsB: Column): Column = {
    val inter = size(array_intersect(gramsA, gramsB))
    val union = size(array_union(gramsA, gramsB))
    when(union === 0, lit(0.0)).otherwise(inter.cast("double") / union)
  }

  /** Exact n-gram Jaccard between two raw text columns. */
  def ngramJaccard(textA: Column, textB: Column, n: Int = 3): Column =
    jaccard(array_distinct(TextFunctions.wordShingles(textA, n)),
      array_distinct(TextFunctions.wordShingles(textB, n)))

  /** Verified near-dup pairs: MinHash/LSH candidates at the relaxed
    * threshold `0.6 · threshold` re-checked with exact n-gram Jaccard
    * (the standard two-phase dedup: cheap candidate gen, exact verify on
    * the tiny candidate set). Word arrays are computed once per document
    * and joined to the candidate pairs; the Jaccard itself is the
    * imperative [[graft.functions.NgramJaccardExpr]]. The cut is on the
    * UNROUNDED quotient (a 6-d.p. round would admit pairs up to 5e-7
    * below the threshold); only the emitted column rounds. With
    * [[HashFamily.Portable]] both phases are SQL-reproducible, so the
    * oracle equality is also the recall proof for the banding.
    */
  def verifiedNearDups(docs: DataFrame, threshold: Double = 0.5, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      family: HashFamily = HashFamily.Seeded): DataFrame = {
    val cands = minhashNearDups(docs, threshold * 0.6, idCol = idCol,
        textCol = textCol, family = family)
      .select("id_a", "id_b")
    val words = FanOut.scan(docs).select(col(idCol).as("gid"),
      TextFunctions.words(col(textCol)).as("w"))
    cands
      .join(words.select(col("gid").as("id_a"), col("w").as("w_a")), "id_a")
      .join(words.select(col("gid").as("id_b"), col("w").as("w_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Sketches.ngramJaccard(col("w_a"), col("w_b"), n).as("j0"))
      .filter(col("j0") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("j0"), 6).as("jaccard"))
  }

  /** EXACT all-pairs n-gram Jaccard similarity join at ≥ `threshold` —
    * no sketch, no loss — via prefix filtering (Bayardo et al., "Scaling
    * Up All Pairs Similarity Search", WWW'07; Chaudhuri et al., ICDE'06):
    * order every document's distinct shingles by a global rarity order
    * (document frequency, ties by value); for Jaccard ≥ t two sets MUST
    * share at least one of each other's first |S| − ⌈t·|S|⌉ + 1 shingles,
    * so candidates form by an equi join on prefix shingles only — an
    * inverted-index shuffle, never an n² cross join — and the exact
    * Jaccard verify runs on candidates alone. Rarity ordering keeps
    * postings lists short (the rarest shingles index the fewest docs).
    *
    * This is the ground-truth twin of [[verifiedNearDups]]: same output
    * contract, 100% recall by construction, DuckDB-oracle-checkable. At
    * 100 TB the LSH path bounds cost independently of similarity skew;
    * this path is preferred when exactness is contractual (dedup before
    * eval-set splits).
    */
  def exactJaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the single-collection form of the shared machinery: self-join the
    // prefix relation on its own triangle, then the exact verify
    val (sh, ranked, _) = buildJaccardIndex(docs, threshold, n, idCol, textCol)
    val cands =
      prunePairs(prefixSideA(ranked).join(prefixSideB(ranked), Seq("t")),
          threshold)
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    verifyPairs(cands, sh, sh, threshold)
  }

  /** Cross-corpus near-duplicate join: all (left, right) pairs with
    * n-gram Jaccard ≥ `threshold` between two DIFFERENT collections —
    * the near-dup form of benchmark decontamination (d10 flags exact
    * 8-gram collisions; this catches paraphrased / lightly-edited eval
    * leakage the exact rule misses), and the train-vs-heldout overlap
    * audit run before any split ships.
    *
    * Same Bayardo/Xiao prefix-filter machinery as
    * [[exactJaccardPairs]] (8-byte shingle hashes, rarity-ranked
    * prefixes, length-ratio + positional prune, fused sorted-merge
    * verify — 100% recall by construction), with two cross-corpus
    * deltas:
    *  - ONE global (df, hash) token order computed over the UNION of
    *    both sides' postings — the shared-prefix guarantee only holds
    *    when both prefixes rank tokens identically;
    *  - candidates pair left×right (no `id_a < id_b` dedup triangle —
    *    the two sides are distinct collections; a doc appearing in
    *    both pairs with itself at J = 1, which is exactly the leak the
    *    audit exists to flag).
    *
    * Scale shape is d9's: postings shuffle 8-byte hashes keyed by
    * prefix token, candidates form only inside a token's posting list
    * (never L×R), and the verify touches candidates alone. The small
    * side (eval benchmarks are KBs–MBs against a TB train corpus)
    * keeps its full posting list; skew on a hot prefix token is
    * AQE-splittable because the join is a plain equi join.
    */
  def crossJaccardPairs(left: DataFrame, right: DataFrame,
      threshold: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val shL = shingleHashed(left, n, idCol, textCol).localCheckpoint()
    val shR = shingleHashed(right, n, idCol, textCol).localCheckpoint()
    val postL = shL.select(col("id"), col("sz"), explode(col("g")).as("t"))
    val postR = shR.select(col("id"), col("sz"), explode(col("g")).as("t"))
    // ONE global order over the UNION of both sides' postings — the
    // shared-prefix guarantee needs both prefixes ranked identically
    val docFreq = postL.select("t").unionAll(postR.select("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
    val rankedL = rankAndPrefix(postL.join(docFreq, "t"), threshold)
    val rankedR = rankAndPrefix(postR.join(docFreq, "t"), threshold)
    // no id_a < id_b triangle: the sides are distinct collections, and a
    // doc leaked into both must pair with itself at J = 1. The verify
    // keeps the sides separate for the same reason — overlapping ids
    // are legal here, so a union shingle table would double-match.
    val cands =
      prunePairs(prefixSideA(rankedL).join(prefixSideB(rankedR), Seq("t")),
          threshold)
        .select("id_a", "id_b")
        .distinct()
    verifyPairs(cands, shL, shR, threshold)
  }

  /** Incremental exact-Jaccard similarity ingest: all pairs with n-gram
    * Jaccard ≥ `threshold` over `corpus ∪ delta` that TOUCH the delta —
    * (corpus, delta) cross pairs plus delta-internal pairs — without
    * re-joining the corpus against itself. This is [[deltaExact]]'s
    * near-dup sibling: the recrawl-round shape where the standing corpus
    * is already self-deduped and only the new batch needs pairing.
    * Ids must be unique across both inputs (an ingest assigns fresh ids);
    * output is (id_a, id_b, jaccard) with id_a < id_b, as in
    * [[exactJaccardPairs]].
    *
    * Same Bayardo/Xiao prefix-filter machinery as [[exactJaccardPairs]],
    * with the token order FROZEN at the corpus: document frequencies are
    * computed over corpus postings only (the statistics a persisted
    * postings index carries), and delta tokens unseen in the corpus get
    * df = 0 — they rank first (rarest) and match nothing on the corpus
    * side, which only SHORTENS probe postings. Correctness does not
    * depend on the order being rarity-optimal, only on both sides using
    * ONE total order — (df, hash) under frozen df is total, corpus
    * documents contain no df-0 tokens, so every prefix is identical to
    * the one the frozen index materialized. DedupSpec proves the
    * identity: delta run ≡ full [[exactJaccardPairs]] over the union
    * restricted to delta-touching pairs.
    *
    * Scale notes (the O(|Δ|)-per-round shape):
    *  - the corpus contributes exactly its persisted prefix-postings
    *    relation (t, id, sz, rn) and its sorted shingle-hash arrays —
    *    both written once at index build, re-read pruned by the probe's
    *    prefix-token equi join; nothing rescans corpus text;
    *  - per round, only delta documents are shingled and ranked; probe
    *    cost is |delta postings| plus matched candidates, and the verify
    *    touches candidates alone (fused sorted-merge over 8-byte hash
    *    arrays — the d9 discipline: collisions only add candidates, the
    *    exact verify rejects them);
    *  - appending the survivors' postings (re-ranked under the SAME
    *    frozen df) closes the loop for the next round; as ingested
    *    volume drifts the vocabulary, frozen-df prefix selectivity
    *    degrades gracefully (longer postings, never lost pairs) — the
    *    rebuild trigger mirrors [[Similarity.ivfDriftStats]]'s
    *    freeze-and-monitor regime.
    */
  def deltaJaccardPairs(corpus: DataFrame, delta: DataFrame,
      threshold: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (shC, prefC, docFreq) =
      buildJaccardIndex(corpus, threshold, n, idCol, textCol,
        materializePrefix = false)
    deltaJaccardPairsIndexed(shC, prefC, docFreq, delta, threshold,
      builtAt = threshold, n = n, idCol = idCol, textCol = textCol)
  }

  /** The three relations a persisted exact-Jaccard postings index
    * consists of, built from the corpus text:
    *
    *  - `shingled` (id, g, sz): the per-document SORTED 8-byte shingle
    *    hash array the verify stage merges over;
    *  - `prefix` (t, id, sz, rn): the rarity-ranked prefix postings the
    *    probe equi-joins on — write it bucketed/partitioned by `t` and
    *    the probe's corpus side never re-shuffles;
    *  - `docFreq` (t, df): the FROZEN index-time token statistics every
    *    later delta must rank under.
    *
    * Prefix length is derived from `threshold` — an index built at
    * threshold t serves any query threshold ≥ t (longer prefixes only
    * ADD candidates; the exact verify rejects them), so build at the
    * lowest threshold you intend to query.
    * PartitioningSpec proves a parquet round-trip of all three
    * relations probes bit-identically to the in-memory run.
    */
  def buildJaccardIndex(corpus: DataFrame, threshold: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      materializePrefix: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    // shC feeds the postings AND both verify legs; prefC feeds both
    // candidate sides — materialize each once (r15: un-checkpointed,
    // every broadcast/agg consumer re-ran the shingle kernel pipeline,
    // ~5 re-derivations per d9/d13-shaped probe). A single-consumer
    // caller (the delta probe: prefC rides exactly one candidate join)
    // passes materializePrefix = false and skips that checkpoint job —
    // prefC then derives lazily from the checkpointed shC (r16).
    val shC = shingleHashed(corpus, n, idCol, textCol).localCheckpoint()
    val postC = shC.select(col("id"), col("sz"), explode(col("g")).as("t"))
    // the frozen index-time statistics: corpus-only document frequency
    val docFreq = postC.groupBy("t").agg(count(lit(1)).as("df"))
    val prefC0 = rankAndPrefix(postC.join(docFreq, "t"), threshold)
    val prefC = if (materializePrefix) prefC0.localCheckpoint() else prefC0
    (shC, prefC, docFreq)
  }

  /** (id, sorted shingle-hash array, size) for the similarity-join
    * family — one imperative pass per document, empty-shingle docs
    * dropped (they pair with nothing at any positive threshold). */
  private def shingleHashed(df: DataFrame, n: Int,
      idCol: String, textCol: String): DataFrame =
    FanOut.scan(df).select(col(idCol).as("id"),
        TextFunctions.words(col(textCol)).as("w"))
      .select(col("id"),
        graft.functions.Sketches.shingleHashArray(col("w"), n).as("g"))
      .withColumn("sz", size(col("g")))
      .filter(col("sz") > 0)

  /** FP-safety for every derived integer bound in the similarity-join
    * family: thresholds like 0.4 overshoot their rational value in IEEE
    * double (0.4/1.4 > 2/7), so a bare ceil() can land one ABOVE the
    * exact bound and silently drop a pair sitting exactly at τ (found
    * by exact-rational audit: |A|=5, |B|=2, B⊆A has J = 2/5 = 0.4 but
    * ceil(7·fp(2/7)) = 3 > 2). Every ceil subtracts Eps first: a bound
    * can then only err DOWNWARD — admitting a few extra candidates,
    * never losing a true pair. */
  private val Eps = 1e-6

  /** Rarity-ranked Bayardo prefix of each posting list: keep the first
    * |S| − ⌈t·|S|⌉ + 1 tokens under the global (df, hash) order. */
  private def rankAndPrefix(p: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    p.withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("t"))))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - Eps) + 1)
      .select("t", "id", "sz", "rn")
  }

  private def prefixSideA(p: DataFrame): DataFrame = p.select(col("t"),
    col("id").as("id_a"), col("sz").as("sz_a"), col("rn").as("rn_a"))

  private def prefixSideB(p: DataFrame): DataFrame = p.select(col("t"),
    col("id").as("id_b"), col("sz").as("sz_b"), col("rn").as("rn_b"))

  /** Candidate prune applied inside the prefix-token equi join, BEFORE
    * the distinct — both stages lossless:
    *  - length-ratio filter: J ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t;
    *  - positional filter (Xiao et al., "Efficient Similarity Joins for
    *    Near Duplicate Detection", WWW'08): a shared prefix token at
    *    positions (i, j) bounds the overlap by min(|A|−i, |B|−j)+1,
    *    which must reach the Jaccard overlap minimum t/(1+t)·(|A|+|B|);
    *    true pairs always pass at their first shared token. */
  private def prunePairs(pairs: DataFrame, threshold: Double): DataFrame = {
    val minOverlap =
      ceil((col("sz_a") + col("sz_b")) * (threshold / (1 + threshold)) - Eps)
    pairs.filter(col("sz_b") >= ceil(col("sz_a") * threshold - Eps) &&
      col("sz_b") * threshold <= col("sz_a") + Eps &&
      least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) + 1 >= minOverlap)
  }

  /** Exact verify on the candidate id pairs only, as a two-pointer merge
    * over the precomputed SORTED hash arrays (ShingleHashesExpr's
    * contract) — no per-pair hashing, no interpreted array_intersect
    * HOFs (each was measured a further ~5× / ~20× slower at sf0.1).
    * `shA`/`shB` attach each side's arrays; pass the same relation for a
    * single collection, distinct relations when ids may overlap across
    * sides (the crossJaccardPairs leak case). */
  private def verifyPairs(cands: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double): DataFrame =
    FanOut.pairs(cands)
      .join(shA.select(col("id").as("id_a"), col("g").as("g_a")), "id_a")
      .join(shB.select(col("id").as("id_b"), col("g").as("g_b")), "id_b")
      .withColumn("j",
        graft.functions.Sketches.sortedJaccard(col("g_a"), col("g_b")))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))

  /** [[deltaJaccardPairs]] probing PREBUILT index relations (the
    * [[buildJaccardIndex]] triple, typically read back from parquet) —
    * the deployment form: per round only the delta is shingled and
    * ranked; the corpus contributes the persisted relations unchanged.
    *
    * `builtAt` is the threshold the index was BUILT at — the relations
    * themselves cannot reveal it, and probing below it would silently
    * lose true pairs (corpus prefixes too short for the lower bound),
    * so the caller must state it and `threshold >= builtAt` is
    * enforced. Record it next to the persisted relations under a
    * HIDDEN name (underscore/dot prefix, e.g. `_built_at`): any other
    * sidecar is deleted by [[Similarity.finalizeStreamedIndex]]'s
    * orphan sweep if the relations pass through a stream-to-batch
    * handoff, and a visible name would also pollute plain directory
    * reads.
    */
  def deltaJaccardPairsIndexed(corpusShingled: DataFrame,
      corpusPrefix: DataFrame, docFreq: DataFrame, delta: DataFrame,
      threshold: Double, builtAt: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(threshold >= builtAt,
      s"probe threshold $threshold below the index build threshold " +
        s"$builtAt: corpus prefixes are too short for this bound and " +
        "true pairs would be lost — rebuild the index at (or below) " +
        "the lowest threshold you query")
    // shD feeds the delta prefix AND both verify legs (via shAll) —
    // un-checkpointed, the delta's whole upstream pipeline (often an
    // anti-join dedup like ingestRound's survivors) re-ran once per
    // consumer (~4×, the e12 lesson applied to the delta side; r16)
    val shD = shingleHashed(delta, n, idCol, textCol).localCheckpoint()
    // delta prefixes under the SAME frozen order; unseen tokens take df = 0
    val prefD = rankAndPrefix(
      shD.select(col("id"), col("sz"), explode(col("g")).as("t"))
        .join(docFreq, Seq("t"), "left")
        .withColumn("df", coalesce(col("df"), lit(0L))), threshold)
    // corpus×delta probe (ids disjoint — no triangle; normalized below)
    // plus the delta-internal triangle, both inside prefix-token buckets
    val cands =
      prunePairs(prefixSideA(corpusPrefix).join(prefixSideB(prefD), Seq("t")),
          threshold)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .unionAll(
          prunePairs(prefixSideA(prefD).join(prefixSideB(prefD), Seq("t")),
              threshold)
            .filter(col("id_a") < col("id_b"))
            .select("id_a", "id_b"))
        .distinct()
    val shAll = corpusShingled.unionAll(shD)
    verifyPairs(cands, shAll, shAll, threshold)
  }

  /** The complete clean-ingest round a crawl pipeline runs per batch,
    * composed from the incremental family — returns the delta rows that
    * enter the corpus:
    *
    *  1. exact dedup ([[deltaExact]]): drop exact copies of corpus
    *     documents; keep the lowest-id representative of each distinct
    *     text within the batch (re-fetch copies);
    *  2. near-dup pairing ([[deltaJaccardPairs]]): all n-gram Jaccard ≥
    *     `threshold` pairs touching the surviving batch, in O(|Δ|)
    *     against the frozen corpus postings;
    *  3. corpus-adjacency drop: a survivor DIRECTLY paired with any
    *     corpus document is a near-refetch — dropped. Deliberately
    *     non-transitive (near-duplication is not an equivalence; a
    *     batch doc whose only link to the corpus runs through another
    *     dropped batch doc stays, and its cluster decides its fate);
    *  4. within-batch clustering ([[clusters]] over the remaining
    *     batch-batch pairs): keep the minimum-id representative per
    *     near-dup cluster, singletons keep themselves.
    *
    * Every step is engine-deterministic, so the WHOLE round is
    * oracle-checkable (d21: the d18 gate derivation + the d9 quadratic
    * pair oracle + the d7 recursive-CTE components, composed). Ids must
    * be unique across corpus ∪ delta ([[deltaJaccardPairs]]'s contract).
    *
    * Scale shape: steps 1–2 are the delta family's O(|Δ|) probes of
    * maintained digest/postings indexes; step 3 is a semi join of the
    * pair list (candidate-sized) against corpus ids; step 4 iterates
    * only over batch-internal edges (localCheckpoint discipline) —
    * cluster diameters are batch-bounded, never corpus-bounded.
    */
  def ingestRound(corpus: DataFrame, delta: DataFrame,
      threshold: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // survivors back the near-dup probe's whole delta side AND the final
    // `remaining` join — materialize the anti-join dedup once (r16; its
    // plan otherwise re-executes under every shD consumer)
    val survivors = deltaExact(corpus, delta, idCol, textCol)
      .localCheckpoint()
    // localCheckpoint, not cache: three consumers (adjacency, the CC
    // edge list, and the CC iteration itself) — materialize the pair
    // list once and re-root the plan (the d7 discipline); blocks are
    // reclaimed by the ContextCleaner once the result is consumed
    val pairs = deltaJaccardPairs(corpus, survivors, threshold, n,
      idCol, textCol).select("id_a", "id_b").localCheckpoint()
    val corpusIds = corpus.select(col(idCol).as("__cid"))
    // batch ids directly paired with a corpus doc (pairs are unordered —
    // check both orientations; membership joins, no id-range assumption)
    val adjacent = pairs.select(col("id_a").as("x"), col("id_b").as("y"))
      .unionAll(pairs.select(col("id_b").as("x"), col("id_a").as("y")))
      .join(corpusIds, col("y") === col("__cid"), "left_semi")
      .select(col("x").as(idCol)).distinct()
    val remaining = survivors.join(adjacent, Seq(idCol), "left_anti")
    val remIds = remaining.select(col(idCol))
    val batchEdges = pairs
      .join(remIds.select(col(idCol).as("id_a")), Seq("id_a"), "left_semi")
      .join(remIds.select(col(idCol).as("id_b")), Seq("id_b"), "left_semi")
      .select("id_a", "id_b")
    val comp = clusters(batchEdges)
    remaining
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(coalesce(col("cluster_id"), col(idCol)) === col(idCol))
      .drop("cluster_id")
  }

  /** Fuzzy string matching: all distinct-value pairs within Levenshtein
    * distance `maxDist` (vocabulary-level fuzzy dedup — titles, names,
    * URLs). Two LOSSLESS equi blocking stages feed the exact
    * `levenshtein` verify:
    *  1. length bands — |len(a)−len(b)| ≤ maxDist is implied by
    *     dist ≤ maxDist, so side A explodes into its 2·maxDist+1 length
    *     buckets and joins side B on B's exact length (a plain shuffle
    *     hash join, never an n² nested loop; each pair produced once);
    *  2. the positional q-gram count filter (Gravano et al., VLDB'01):
    *     an edit operation destroys at most `q` of a string's positional
    *     q-grams and shifts surviving ones by at most `maxDist`, so
    *     dist ≤ k requires ≥ len(a)−q+1−q·k of a's grams to find a
    *     same-content match in b within position distance k. Pairs below
    *     the threshold are dropped BEFORE the verify — this is what
    *     collapses same-length vocabularies (stage 1 can't split them).
    *     Strings too short for a positive threshold (len < q·(k+1))
    *     bypass stage 2, keeping the blocking lossless.
    */
  def editDistancePairs(values: DataFrame, strCol: String,
      maxDist: Int = 2, qGram: Int = 2): DataFrame =
    editDistanceCandidates(values, strCol, maxDist, qGram)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)

  /** The candidate pairs [[editDistancePairs]] verifies — package-private
    * so DedupSpec can assert the q-gram stage's prune ratio directly.
    * `qGram <= 0` disables stage 2 (the spec's unpruned reference).
    *
    * Scale note: stage 2 FILTERS the stage-1 pair list (pairs × ~|s|
    * gram rows through two equi joins). If a vocabulary's length
    * distribution ever makes stage 1 itself quadratic-sized, invert the
    * phases: GENERATE candidates from (gram, ⌊pos/(k+1)⌋±1, length-band)
    * postings — same Gravano bounds, but the pair list never
    * materializes. Not needed at current vocabulary shapes (the sf0.1
    * part vocabulary verifies in 0.4 s).
    */
  private[graft] def editDistanceCandidates(values: DataFrame, strCol: String,
      maxDist: Int, qGram: Int): DataFrame = {
    val v = values.select(col(strCol).cast("string").as("name")).distinct()
    val a = v.select(col("name").as("name_a"))
      .withColumn("bucket", explode(sequence(
        length(col("name_a")) - maxDist, length(col("name_a")) + maxDist)))
    val b = v.select(col("name").as("name_b"),
      length(col("name_b")).as("bucket"))
    val cands = a.join(b, Seq("bucket"))
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b")
    if (qGram <= 0) return cands
    // threshold len(a)−q+1−q·k ≥ 1 ⟺ len(a) ≥ q·(k+1); shorter strings
    // keep all their stage-1 pairs. A long name_a's partner always has
    // len(b) ≥ q·(k+1)−k ≥ q (stage 1 bounds the gap), so its grams exist.
    val minLen = qGram * (maxDist + 1)
    val short = cands.filter(length(col("name_a")) < minLen)
    val long = cands.filter(length(col("name_a")) >= minLen)
    val gramArr = transform(sequence(lit(0), length(col("name")) - qGram),
      i => col("name").substr(i + lit(1), lit(qGram)))
    val grams = v.filter(length(col("name")) >= qGram)
      .select(col("name"), posexplode(gramArr)).toDF("name", "pos", "g")
    val pruned = long
      .join(grams.select(col("name").as("name_a"), col("pos").as("pa"),
        col("g")), Seq("name_a"))
      .join(grams.select(col("name").as("name_b"), col("pos").as("pb"),
        col("g")), Seq("name_b", "g"))
      .filter(abs(col("pa") - col("pb")) <= maxDist)
      .groupBy("name_a", "name_b")
      .agg(countDistinct(col("pa")).as("__m"))
      .filter(col("__m") >=
        length(col("name_a")) - qGram + 1 - qGram * maxDist)
      .select("name_a", "name_b")
    short.unionByName(pruned)
  }

  /** Incremental exact dedup: the rows of `batch` whose content digest
    * has never been seen in `history` — the per-ingest hygiene pass of a
    * continuously-fed corpus. Left-anti join on the 16-byte md5 digest:
    * history collapses to its DISTINCT digest set first (16 B/row,
    * map-side combined), so neither side ever shuffles document text.
    * Intra-batch duplicates are [[exact]]'s job — compose the two for a
    * full ingest step.
    */
  def incrementalNew(batch: DataFrame, history: DataFrame,
      textCol: String = "text"): DataFrame = {
    val histDigests = withDigest(history, textCol).select("digest").distinct()
    withDigest(batch, textCol)
      .join(histDigests, Seq("digest"), "left_anti")
      .drop("digest")
  }

  /** [[incrementalNew]] with a Bloom pre-filter on the history digest
    * set — the steady-state ingest shape when history is orders of
    * magnitude larger than each batch. Rows whose digest hash misses
    * the filter are DEFINITIVELY new (Bloom filters have no false
    * negatives) and skip the join entirely; only the might-contain
    * minority — true dups plus ~fpp of the batch — verifies against the
    * exact digest set. The bloom is rebuilt here per call for a
    * self-contained contract; a production ingest loop would maintain
    * it incrementally (bloom unions are bitwise-OR) and keep the exact
    * verify pruned via digest-bucketed history storage. Result is
    * row-identical to [[incrementalNew]].
    */
  def bloomIncrementalNew(batch: DataFrame, history: DataFrame,
      textCol: String = "text", expectedItems: Long = 1L << 22,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      "need expectedItems > 0 and fpp in (0, 1)")
    val histDigests = withDigest(history, textCol).select("digest").distinct()
    val bloom = histDigests.select(xxhash64(col("digest")).as("h"))
      .stat.bloomFilter("h", expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val might = GraftBridge.toColumn(BloomFilterMightContain(
      Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
      GraftBridge.toExpression(xxhash64(col("digest")))))
    val b = withDigest(batch, textCol)
    val definitelyNew = b.filter(!might)
    val verifiedNew = b.filter(might)
      .join(histDigests, Seq("digest"), "left_anti")
    definitelyNew.unionByName(verifiedNew).drop("digest")
  }

  /** Benchmark decontamination: flag every corpus document sharing at
    * least one word `n`-gram with the eval/benchmark set — the standard
    * train-set hygiene pass before training (GPT-3's 13-gram collision
    * rule, Brown et al. 2020 §C, here with the n as a knob). Output is
    * the full corpus id list with a `contaminated` flag.
    *
    * Two-phase so document text never rides the big shuffle:
    *  1. candidates via an 8-byte `xxhash64(shingle)` semi join — the
    *     eval hash set is tiny (benchmarks are small by definition) and
    *     broadcasts; hash collisions only ADD candidates;
    *  2. the exact string semi join re-runs on the candidate documents
    *     only, so false positives from phase 1 are rejected and the
    *     flag is exact.
    */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // phase 1 candidates: 8-byte shingle hashes from the IMPERATIVE
    // kernel (ShingleHashesExpr — the string-shingle HOF costs ~10-100×
    // in interpreted lambdas and its strings would ride the explode);
    // shingleHashes' partial-shingle rule matches wordShingles', so the
    // hash phase can only over-approximate via collisions, never miss.
    val hashes = Sketches.shingleHashArray(
      TextFunctions.words(col(textCol)), n)
    val evalHashes = evalDocs.select(explode(hashes).as("h")).distinct()
    val candIds = FanOut.scan(corpus)
      .select(col(idCol), explode(hashes).as("h"))
      .join(broadcast(evalHashes), Seq("h"), "left_semi")
      .select(idCol).distinct()
    exactContaminationVerify(corpus, evalDocs, candIds, n, idCol, textCol)
  }

  /** Phase-2 exact verify shared by [[decontaminate]] and
    * [[bloomDecontaminate]]: shingle STRINGS materialize only for the
    * candidate docs and the (small) eval set, so any false positive a
    * hashed/bloomed phase 1 admits is rejected here and the flag is
    * exact regardless of the candidate generator's precision.
    */
  private def exactContaminationVerify(corpus: DataFrame, evalDocs: DataFrame,
      candIds: DataFrame, n: Int, idCol: String, textCol: String): DataFrame = {
    // fused imperative shingle kernel, not the interpreted HOF build —
    // the t23 lesson; same shingle rule (spec-gated HOF ≡ fused)
    val evalSh = evalDocs.select(explode(array_distinct(
      Sketches.wordShinglesText(col(textCol), n))).as("g")).distinct()
    val confirmed = corpus.join(candIds, idCol)
      .select(col(idCol), explode(array_distinct(
        Sketches.wordShinglesText(col(textCol), n))).as("g"))
      .join(evalSh, Seq("g"), "left_semi")
      .select(idCol).distinct()
    corpus.select(col(idCol))
      .join(confirmed.withColumn("contaminated", lit(true)), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** Per-document contamination FRACTION against a benchmark/eval set:
    * |distinct n-gram shingles of doc ∩ eval shingles| over
    * |distinct n-gram shingles of doc| — the graded form of
    * [[decontaminate]]'s boolean flag, the statistic n-gram-overlap
    * decontamination studies threshold on (e.g. "drop if >X% of
    * 8-grams appear in the benchmark").
    *
    * Same two-phase shape as [[decontaminate]]: phase 1 narrows to
    * candidate docs via the 8-byte hashed-shingle broadcast semi join
    * (collisions only ADD candidates), and shingle STRINGS materialize
    * only for candidates + the eval set, where the exact semi join
    * COUNTS per-doc matches. Non-candidates score 0 without ever
    * exploding their shingles — at corpus scale the expensive exact leg
    * touches only the (rare) overlapping docs. The denominator is a
    * scan-local in-row count (no shuffle). The emitted fraction is one
    * IEEE division of exact BIGINT operands — bit-identical
    * cross-engine, no rounding needed.
    */
  def contaminationScore(corpus: DataFrame, evalDocs: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hashes = Sketches.shingleHashArray(
      TextFunctions.words(col(textCol)), n)
    val evalHashes = evalDocs.select(explode(hashes).as("h")).distinct()
    val candIds = FanOut.scan(corpus)
      .select(col(idCol), explode(hashes).as("h"))
      .join(broadcast(evalHashes), Seq("h"), "left_semi")
      .select(idCol).distinct()
    // fused imperative shingle kernel throughout (the t23 lesson): the
    // denominator leg below runs over EVERY corpus row, where the
    // interpreted HOF build dominated the probe's cost
    val evalSh = evalDocs.select(explode(array_distinct(
      Sketches.wordShinglesText(col(textCol), n))).as("g")).distinct()
    val hits = corpus.join(candIds, idCol)
      .select(col(idCol), explode(array_distinct(
        Sketches.wordShinglesText(col(textCol), n))).as("g"))
      .join(evalSh, Seq("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    FanOut.scan(corpus)
      .select(col(idCol), size(array_distinct(
        Sketches.wordShinglesText(col(textCol), n))).cast("long")
        .as("n_shingles"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_shingles") === 0L, lit(0.0))
          .otherwise(coalesce(col("n_hits"), lit(0L)).cast("double") /
            col("n_shingles").cast("double")).as("contamination"))
  }

  /** [[decontaminate]] with the phase-1 candidate filter compressed into
    * a Bloom filter — the 100 TB form of the hygiene pass. The broadcast
    * hash-set semi join ships every distinct eval shingle hash (8 B each
    * + set overhead) to every executor; a benchmark battery of 10⁸
    * shingles is multi-GB as a hash set but ~9.6 bits/item as a 1%-fpp
    * Bloom filter (~120 MB), and the probe becomes a SCAN-LOCAL
    * predicate — no join, no build side, no shuffle for phase 1. False
    * positives only ADD candidates (rejected by the exact verify);
    * false negatives are impossible (Bloom filters have none), so the
    * result is bit-identical to [[decontaminate]]'s.
    *
    * The filter is built distributedly (per-partition Bloom filters
    * OR-merged), pulled once to the driver (`expectedItems`-sized, not
    * data-sized), and re-enters the plan as a BINARY LITERAL probed by
    * Spark's own codegen'd `BloomFilterMightContain` — the expression
    * the optimizer itself plants for runtime join pruning. Sizing is a
    * fixed budget rather than a pre-count: an undersized filter only
    * raises the phase-1 fpp (more verify work, same answer), which is
    * the right failure mode, and skipping the count saves a full pass
    * over the eval set.
    */
  def bloomDecontaminate(corpus: DataFrame, evalDocs: DataFrame, n: Int = 8,
      expectedItems: Long = 1L << 22, fpp: Double = 0.01,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      "need expectedItems > 0 and fpp in (0, 1)")
    val hashes = Sketches.shingleHashArray(
      TextFunctions.words(col(textCol)), n)
    val evalHashes = evalDocs.select(explode(hashes).as("h")).distinct()
    val bloom = evalHashes.stat.bloomFilter("h", expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = GraftBridge.toColumn(BloomFilterMightContain(
      Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
      GraftBridge.toExpression(col("h"))))
    val candIds = FanOut.scan(corpus)
      .select(col(idCol), explode(hashes).as("h"))
      .filter(mightContain)
      .select(idCol).distinct()
    exactContaminationVerify(corpus, evalDocs, candIds, n, idCol, textCol)
  }

  /** EXACT overlap-coefficient pairs: all (id_a < id_b) with
    * |A∩B| / min(|A|, |B|) ≥ `threshold` over distinct word n-gram
    * shingle sets — the CONTAINMENT cousin of [[exactJaccardPairs]].
    * Jaccard misses a short document embedded in a long one (the union
    * dilutes it); the overlap coefficient is the standard measure for
    * quote/boilerplate containment in corpus curation. Returns
    * (id_a, id_b, overlap, containment) with containment the UNROUNDED
    * quotient of integers (bit-identical cross-engine).
    *
    * 100% recall by construction:
    *  - a qualifying pair shares ≥ ⌈τ·min(|A|,|B|)⌉ shingles, so the
    *    SMALLER set's (df, hash)-ordered prefix of length
    *    |S| − ⌈τ·|S|⌉ + 1 must hit some shingle of the larger set;
    *  - hence candidates = prefix(smaller) ⋈ ALL shingles of the other
    *    side, restricted to partners of (size, id)-lexicographically
    *    greater rank so each unordered pair forms exactly once. Unlike
    *    the Jaccard join there is NO length-ratio prune — containment
    *    has no size bound by design (a 10-token quote inside a 10k-token
    *    page qualifies), which is also why the full-postings side must
    *    be indexed, not just prefixes.
    *  - the fused sorted-merge verify ([[graft.functions.Sketches
    *    .sortedOverlap]]) then computes the exact overlap; hash
    *    collisions only ever ADD candidates. Eps guards every derived
    *    ceil bound (the d9 FP lesson).
    */
  def overlapPairs(docs: DataFrame, threshold: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val Eps = 1e-6
    val words = FanOut.scan(docs).select(col(idCol).as("id"),
      TextFunctions.words(col(textCol)).as("w"))
    val sh = words.select(col("id"),
        graft.functions.Sketches.shingleHashArray(col("w"), n).as("g"))
      .withColumn("sz", size(col("g")))
      .filter(col("sz") > 0)
      // reused by the postings, the candidate join and both verify legs
      .localCheckpoint()
    val postings = sh.select(col("id"), col("sz"), explode(col("g")).as("t"))
    val docFreq = postings.groupBy("t").agg(count(lit(1)).as("df"))
    // rarest-first prefix of the prospective SMALLER side
    val prefix = postings.join(docFreq, "t")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("t"))))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - Eps) + 1)
      .select("t", "id", "sz")
    val cands = prefix.select(col("t"), col("id").as("id_s"), col("sz").as("sz_s"))
      .join(postings.select(col("t"), col("id").as("id_l"), col("sz").as("sz_l")),
        Seq("t"))
      // partner strictly greater in (size, id) order: every unordered
      // pair is generated exactly once, via its smaller side's prefix
      .filter(col("sz_l") > col("sz_s") ||
        (col("sz_l") === col("sz_s") && col("id_l") > col("id_s")))
      .select(least(col("id_s"), col("id_l")).as("id_a"),
        greatest(col("id_s"), col("id_l")).as("id_b"))
      .distinct()
    cands
      .join(sh.select(col("id").as("id_a"), col("g").as("g_a"),
        col("sz").as("sz_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("g").as("g_b"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("overlap",
        graft.functions.Sketches.sortedOverlap(col("g_a"), col("g_b")))
      .withColumn("containment",
        col("overlap").cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("overlap"), col("containment"))
  }

  /** Duplicated-span statistics (the signal behind exact SUBSTRING dedup,
    * Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    * Better": repeated ≥n-token spans, not whole-document copies, are
    * what survives document-level dedup). Every position-indexed word
    * `n`-gram window of every document is counted corpus-wide; a window
    * is duplicated iff its content occurs at ≥2 positions anywhere in
    * the corpus (other documents or a repeat within its own). Returns
    * one row per non-empty document:
    * (idCol, n_windows, n_dup_windows, dup_frac) — dup_frac is the
    * UNROUNDED quotient of the two counts (bit-identical cross-engine).
    *
    * Plan shape (chosen for corpus scale): windows leave the scan as
    * 16-byte md5 digests — gram text never rides a shuffle — then ONE
    * exchange on the digest feeds `count(*) over (partition by digest)`
    * (cheaper than a count-aggregate + re-join, which shuffles the same
    * rows twice), and a final per-document aggregation rolls the flags
    * up. md5 rather than a 64-bit hash because corpus-wide counting has
    * no downstream exact verify to reject collisions — at 10¹² windows a
    * 64-bit key would already bias counts, a 128-bit key does not.
    */
  def dupSpanStats(docs: DataFrame, n: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fused imperative window digesting (WindowDigestsExpr): one in-row
    // pass emits 16-byte binary MD5s per window — no interpreted
    // transform/slice/concat_ws HOFs (measured ~4× slower here), no hex
    // strings on the shuffle (a third of the payload)
    val grams = docs
      .select(col(idCol), explode(graft.functions.Sketches.windowDigests(
        TextFunctions.words(col(textCol)), n)).as("__h"))
    grams
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy("__h")))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_windows"),
        sum(when(col("__cnt") >= 2, 1L).otherwise(0L)).cast("long")
          .as("n_dup_windows"))
      .withColumn("dup_frac",
        col("n_dup_windows").cast("double") / col("n_windows"))
  }

  /** Connected components over a near-dup pair list → (id, cluster_id)
    * with cluster_id = the smallest member id (the canonical
    * representative, as in "keep lowest id per cluster" dedup policy).
    * Ids keep their column type and are compared in its order, so both
    * id columns need an orderable type (a map id fails up front).
    *
    * Algorithm: minimum-label propagation with a local contraction step
    * (Łącki, Mirrokni, Włodarczyk, "Connected Components at Scale via
    * Local Contractions", arXiv:1807.10727). Each round every node adopts
    * the min label in its neighborhood; then, inside each partition of
    * that message pass, a union-find over the edges whose two endpoints
    * both sit in the partition gives every local set its minimum label.
    * The loop stops when a round lowers no label, or when no node has a
    * neighbor in another partition: then every edge was local and the
    * union-find was exact. Rounds: one when the round state fits one
    * partition (AQE coalesces a small state to one), otherwise never more
    * than plain min-label propagation's O(diameter) — every label is at
    * most the plain one after the same round. `maxRounds` bounds long
    * chains spread over many partitions. Memory: the local step holds
    * one aggregate partition (ids, labels, adjacency lists), whose size
    * AQE's advisory partition size bounds.
    *
    * The round is Pregel's message passing (Malewicz et al., SIGMOD 2010)
    * over a state that carries each node's adjacency list, so it needs no
    * join: no GraphX dependency, one shuffle that AQE can size. Each round
    * is localCheckpoint'ed through [[Iterate]] (jobs described "cc: round
    * r"): the plan re-roots at materialized partitions, so neither the
    * recompute chain nor the logical plan tree grows with the iteration
    * count. The result reads the last round's checkpoint; free it with
    * [[Iterate.release]].
    */
  def clusters(pairs: DataFrame, maxRounds: Int = 20,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    for (c <- Seq(idA, idB)) {
      val t = pairs.schema(c).dataType
      require(RowOrdering.isOrderable(t), s"clusters: column '$c' has type " +
        s"${t.sql}, which has no order (labels are the minimum member id)")
    }
    Iterate.scope { sc =>
    // round state (id, label, nbrs): every node of the symmetric edge
    // list with its adjacency list, built once from one read of the pair
    // pipeline (often a full MinHash run)
    val state0 = sc.checkpoint(pairs
      .select(explode(array(
        struct(col(idA).as("id"), col(idB).as("nbr")),
        struct(col(idB).as("id"), col(idA).as("nbr")))).as("e"))
      .groupBy(col("e.id").as("id"))
      .agg(collect_set(col("e.nbr")).as("nbrs"))
      .select(col("id"), col("id").as("label"), col("nbrs")))
    val noNbrs = lit(null).cast(state0.schema("nbrs").dataType)
    val (labels, converged) = sc.rounds("cc", state0, maxRounds,
        observe = Seq(count(when(col("__chg"), lit(1))),
          count(when(col("__remote"), lit(1)))),
        until = o => o.getLong(0) == 0L || o.getLong(1) == 0L) { (state, _) =>
      // each node's own row (the only one with `nbrs`, so its old label
      // is the min over rows with nbrs) plus one label message per
      // neighbor, into ONE groupBy: the new label is the min over
      // {own label} ∪ {neighbor labels} and the adjacency list rides
      // along. collect_list keeps the aggregate an ObjectHashAggregate.
      // Pointer-jumping hops were measured slower on s12's graph: fewer
      // rounds, dearer rounds.
      localMinLabels(state.select(col("id"), col("label"), col("nbrs"))
        .unionAll(state.select(explode(col("nbrs")).as("id"), col("label"),
          noNbrs.as("nbrs")))
        .groupBy("id")
        .agg(min(col("label")).as("label"),
          min(when(col("nbrs").isNotNull, col("label"))).as("__old"),
          flatten(collect_list(col("nbrs"))).as("nbrs")))
    }
    // Splitting one component into several silently corrupts dedup, so
    // non-convergence is an error, not a warning.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          "(component diameter exceeds the budget); raise maxRounds")
    labels.select(col("id"), col("label").as("cluster_id"))
    }
  }

  /** The local step of a [[clusters]] round over its message pass
    * (id, label, __old, nbrs): per partition, union-find over the edges
    * whose endpoints both sit in it, every set taking its minimum label →
    * (id, label, nbrs, __chg, __remote). `__chg`: the label is below the
    * round's old one; `__remote`: the node has a neighbor in another
    * partition. Labels compare in the id type's Spark order, the order
    * `min` uses.
    */
  private def localMinLabels(agg: DataFrame): DataFrame = {
    val s = agg.schema
    val idType = s("id").dataType
    val out = StructType(Seq(s("id"), s("label"), s("nbrs"),
      StructField("__chg", BooleanType, nullable = false),
      StructField("__remote", BooleanType, nullable = false)))
    agg.select("id", "label", "__old", "nbrs").mapPartitions { it =>
      val ord = TypeUtils.getInterpretedOrdering(idType)
      val cat = CatalystTypeConverters.createToCatalystConverter(idType)
      val rows = it.toArray
      // a pair with a null id makes a node with no label: it passes through
      val live = rows.indices.filterNot(rows(_).isNullAt(0))
      val at = new java.util.TreeMap[Any, Integer](ord)
      live.foreach(i => at.put(cat(rows(i).get(0)), i))
      val parent = rows.indices.toArray
      def find(i: Int): Int = {
        var x = i
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      val remote = new Array[Boolean](rows.length)
      for (i <- live; nbr <- rows(i).getSeq[Any](3)) {
        val j = at.get(cat(nbr))
        if (j == null) remote(i) = true
        else parent(find(i)) = find(j)
      }
      // the minimum label of each set, at its root (catalyst value, row)
      val minCat = new Array[Any](rows.length)
      val minAt = Array.fill(rows.length)(-1)
      for (i <- live) {
        val r = find(i)
        val l = cat(rows(i).get(1))
        if (minAt(r) < 0 || ord.lt(l, minCat(r))) { minCat(r) = l; minAt(r) = i }
      }
      rows.indices.iterator.map { i =>
        val row = rows(i)
        if (row.isNullAt(0)) Row(null, row.get(1), row.get(3), false, false)
        else {
          val r = find(i)
          Row(row.get(0), rows(minAt(r)).get(1), row.get(3),
            ord.lt(minCat(r), cat(row.get(2))), remote(i))
        }
      }
    }(Encoders.row(out))
  }

  /** End-to-end near-dup clustering: verified MinHash pairs
    * ([[verifiedNearDups]] under `family`) → connected components → every
    * document labeled with its cluster representative (singletons keep
    * their own id). With [[HashFamily.Portable]] the WHOLE pipeline
    * (portable MinHash banding → exact verify → connected components) is
    * oracle-checkable end to end (the d7 recursive-CTE recipe).
    */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      family: HashFamily = HashFamily.Seeded): DataFrame =
    labelClusters(docs, verifiedNearDups(docs, threshold, idCol = idCol,
      textCol = textCol, family = family), idCol)

  /** [[nearDupClusters]] over the EXACT pair list ([[exactJaccardPairs]])
    * instead of LSH candidates: deterministic across engines, so the full
    * pipeline (shingle → exact similarity join → connected components) is
    * oracle-checkable end-to-end (DuckDB recursive CTE — the d7 probe).
    */
  def nearDupClustersExact(docs: DataFrame, threshold: Double = 0.5, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    labelClusters(docs, exactJaccardPairs(docs, threshold, n, idCol = idCol,
      textCol = textCol), idCol)

  /** Every document with the [[clusters]] representative of `pairs`
    * (singletons keep their own id). */
  private def labelClusters(docs: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame =
    docs.join(clusters(pairs).withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
}

/** The hash family behind the MinHash and SimHash near-dup pipelines of
  * [[Dedup]] — the one decision that differs between the fastest form and
  * the form a SQL oracle re-derives. Every stage after the signature
  * (banding, blocking, candidate distinct, estimate, verify) is shared.
  */
sealed abstract class HashFamily {
  /** MinHash signature (array<bigint>) of a word array. */
  def minhash(words: Column, numHashes: Int, shingleSize: Int): Column
  /** LSH bucket key of band `b`'s signature slice. */
  def bandKey(b: Column, slice: Column): Column
  /** Raw SimHash of the text column; [[simhash64]] turns it into the
    * 64-bit signature (two steps, so a multi-part raw value is computed
    * once per document rather than once per part). */
  def simhash(text: Column): Column
  def simhash64(raw: Column): Column
}

object HashFamily {
  /** xxhash64-seeded ([[graft.functions.MinHashSignatureExpr]],
    * [[graft.functions.SimHashTextExpr]]): the fastest kernels. Not
    * re-derivable in SQL, so its recall is golden-gated in DedupSpec. */
  case object Seeded extends HashFamily {
    def minhash(words: Column, numHashes: Int, shingleSize: Int): Column =
      Sketches.minhashSignature(words, numHashes, shingleSize)
    def bandKey(b: Column, slice: Column): Column = xxhash64(b, slice)
    def simhash(text: Column): Column = Sketches.simhash64Text(text)
    def simhash64(raw: Column): Column = raw
  }

  /** Engine-portable md5 family ([[graft.functions.MinHashPortableExpr]],
    * [[graft.functions.SimHashPortableExpr]]): hash parameters come from
    * md5 of the hash index, signatures are per-(doc, k) minima, the band
    * key is the comma-joined slice, and the SimHash is two 32-bit halves
    * `s1 | s2 << 32` — every op a DuckDB twin evaluates exactly. The
    * oracle-checked probes (d3, d4, d5, t55) run this family. */
  case object Portable extends HashFamily {
    def minhash(words: Column, numHashes: Int, shingleSize: Int): Column =
      Sketches.minhashPortable(words, numHashes, shingleSize)
    def bandKey(b: Column, slice: Column): Column =
      concat_ws(",", transform(slice, x => x.cast("string")))
    def simhash(text: Column): Column =
      Sketches.simhashPortable(TextFunctions.words(text))
    def simhash64(raw: Column): Column =
      element_at(raw, 1).bitwiseOR(shiftleft(element_at(raw, 2), 32))
  }
}
