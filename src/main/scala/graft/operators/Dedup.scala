package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash.phash
import org.apache.spark.sql.graftbridge.Bridge

/** Deduplication operators for large-scale document pipelines.
  *
  * Exact dedup is a hash-groupBy; near-dup comes in three flavors —
  * exact n-gram Jaccard (quadratic, ground truth at small scale),
  * MinHash+LSH (the 100 TB path: shingle → signature → band buckets →
  * candidate join → verify), and SimHash (64-bit bitwise-majority
  * fingerprints). All hashes are engine-portable (see
  * [[graft.functions.PortableHash]]) so an external SQL oracle can
  * reproduce results bit-for-bit.
  *
  * The reference has only the Q12 keep-latest dedup
  * (dump1090-postgis `database/sql/maintenance.sql:1-16`); the rest is
  * the training-data-pipeline extension surface.
  */
object Dedup {

  /** The one way to hold a frame inside a query: a frame consumed by
    * several plan branches (the hashed-shingle table feeding sizes +
    * both self-join sides, an index's inverted lists) materializes
    * once as a lazy local checkpoint. Its blocks belong to the
    * checkpoint RDD, not to the SQL cache catalog, so nothing needs
    * releasing: the ContextCleaner reclaims them once the query's
    * references drop, and a resident session's cache catalog stays
    * empty. Defining it already runs the frame's shuffle stages
    * (AQE plans the frame to build the RDD); the stage after the last
    * shuffle runs with the first action that reads it. Lineage is
    * truncated, so losing an executor mid-query fails that query. */
  private[graft] def share(df: DataFrame): DataFrame =
    df.localCheckpoint(false)

  /** maintenance.sql keep-one-per-group: keeps the first row of each
    * key group under `orderBy` (e.g. id desc = keep max id). */
  def keepOnePerGroup(df: DataFrame, keys: Seq[Column], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact duplicate groups by content hash: (text_hash, canonical_id,
    * n_copies), canonical = min id. Map-side combinable single shuffle. */
  def exactDuplicates(docs: DataFrame, idCol: Column, textCol: Column): DataFrame =
    docs.groupBy(md5(textCol).as("text_hash"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles (with duplicates) over a *materialized*
    * token-array column. `toksCol` must be a bound attribute (e.g. via
    * `withColumn("toks", split(text, " "))`), not an inline `split` —
    * a subexpression inside a `transform` lambda is re-evaluated per
    * element, turning shingling O(tokens²) (measured 10×+ slower).
    * Dedup is NOT done here: `array_distinct` is O(n²) string compares
    * per document; min-based consumers (MinHash) are duplicate-
    * insensitive, and set-based consumers dedup hashed rows with a
    * shuffle instead. */
  def shingles(toksCol: Column, n: Int): Column =
    transform(
      when(size(toksCol) >= n, sequence(lit(0), size(toksCol) - n))
        .otherwise(array().cast("array<int>")),
      j => concat_ws(" ", slice(toksCol, j + 1, lit(n))))

  /** (id, sh) exploded shingle rows (duplicates included) — the shared
    * scan shape for Jaccard and MinHash. */
  def shingleRows(docs: DataFrame, idCol: Column, textCol: Column,
      n: Int): DataFrame =
    docs.select(idCol.as("id"), split(textCol, " ").as("toks"))
      .select(col("id"), explode(shingles(col("toks"), n)).as("sh"))

  /** Exact pairwise n-gram Jaccard similarity ≥ threshold.
    * Ground-truth near-dup: explode distinct shingles, self-join on a
    * 60-bit shingle hash (joining longs, not strings — the string join
    * measured 5×+ slower and shuffles the full shingle text), count
    * co-occurrences, Jaccard = |∩| / (|A|+|B|−|∩|).
    * Quadratic in duplicates-per-shingle — at 100 TB use
    * [[minhashCandidates]] to pre-filter; this operator is the
    * verifier/oracle. */
  def jaccardPairs(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int,
      threshold: Double): DataFrame = {
    // distinct AFTER hashing (shuffle dedup beats per-doc O(n²)
    // array_distinct); shared via [[share]] so the self-join doesn't
    // recompute the whole shingle+md5 pipeline per side.
    val sh = share(shingleRows(docs, idCol, textCol, n)
      .select(col("id"), phash(col("sh"), 0).as("h"))
      .distinct())
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val co = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    co.join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(
        col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("sa.n_sh") + col("sb.n_sh") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard over a *candidate pair list* — the
    * production shape at 100 TB: [[minhashCandidatesFromShingles]]
    * proposes, this verifies. Cost is Σ per-candidate shingle overlap
    * (each candidate pair explodes to its matching shingle hashes via
    * two hash joins), not the all-pairs quadratic of [[jaccardPairs]].
    * Semantics are identical to [[jaccardPairs]] restricted to
    * `candidates` (id_a < id_b assumed, as the candidate stage
    * emits). Takes a prebuilt (id, sh) shingle table — [[share]] it
    * with [[minhashCandidatesFromShingles]] so the candidate
    * and verify stages scan/shingle the corpus once, not twice (the
    * shingle explode is the dominant scan at scale). */
  def jaccardVerifyFromShingles(
      shingles: DataFrame,
      candidates: DataFrame,
      threshold: Double): DataFrame = {
    val sh = share(shingles
      .select(col("id"), phash(col("sh"), 0).as("h"))
      .distinct())
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    // distinct defensively: a duplicated candidate row would double
    // `common` and inflate jaccard past 1. No-op on the (already
    // distinct) minhashCandidates output.
    val co = candidates.distinct()
      .join(sh.as("ca"), col("id_a") === col("ca.id"))
      .join(sh.as("cb"),
        col("id_b") === col("cb.id") && col("ca.h") === col("cb.h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    co.join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(
        col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("sa.n_sh") + col("sb.n_sh") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Asymmetric n-gram CONTAINMENT pairs: c(A→B) = |sh(A)∩sh(B)| /
    * |sh(A)|. Symmetric Jaccard structurally misses the
    * quote-inclusion dup (a short doc fully embedded in a long one
    * has jaccard ≈ |A|/|B| → 0 as B grows, but c(A→B) = 1); a
    * curation run needs both reports. One row per co-occurring pair
    * (id_a < id_b) with the intersection size and BOTH directions'
    * containment, kept when either direction meets `threshold`.
    *
    * Scale shape: same shared-gram join as [[jaccardPairs]] — cost is
    * Σ_g df(g)², not all-pairs — with the standard stop-gram cap as
    * the explicit knob: grams appearing in more than `maxGramDf` docs
    * (boilerplate, by [[boilerplateReport]]'s own definition) are
    * excluded from intersection counting BEFORE the self-join, which
    * bounds the per-gram fan-out; denominators keep the TRUE distinct
    * gram counts, so capped containment only ever under-reports —
    * a pair can be missed, never invented. The cap is part of the
    * operator's definition (the oracle reproduces it exactly). */
  def containmentPairs(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int,
      threshold: Double,
      maxGramDf: Long = Long.MaxValue): DataFrame = {
    val sh = share(shingleRows(docs, idCol, textCol, n)
      .select(col("id"), phash(col("sh"), 0).as("h"))
      .distinct())
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val joinable =
      if (maxGramDf == Long.MaxValue) sh
      else sh.join(
        sh.groupBy("h").agg(count(lit(1)).as("_df"))
          .where(col("_df") <= maxGramDf).select(col("h")), Seq("h"))
    val co = joinable.as("a").join(joinable.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    co.join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(
        col("id_a"), col("id_b"), col("common"),
        (col("common").cast("double") / col("sa.n_sh")).as("c_a"),
        (col("common").cast("double") / col("sb.n_sh")).as("c_b"))
      .where(col("c_a") >= threshold || col("c_b") >= threshold)
  }

  /** Columnar MinHash min-table: one row per id with the `numHashes`
    * per-seed minima as columns `mh0..mh{k-1}`.
    *
    * Shaped for scale: shingles explode to rows once, each shingle is
    * MD5-hashed ONCE to a 32-bit base h0, and the `numHashes` functions
    * are affine transforms (aᵢ·h0+bᵢ) mod p — pure 64-bit arithmetic
    * (the md5-per-(shingle,seed) variant measured 10× slower). All k
    * minima are aggregated in ONE map-side-combinable groupBy(id) — the
    * earlier posexplode-to-(id, i) rows variant pushed k× the rows
    * through the exchange and needed a second shuffle to band them. */
  def minhashMinColumns(shingles: DataFrame, numHashes: Int): DataFrame = {
    import graft.functions.PortableHash.{phash32, minhashCoeffs, MinhashPrime}
    val aggs = (0 until numHashes).map { k =>
      val (a, b) = minhashCoeffs(k)
      min((lit(a) * col("h0") + lit(b)) % lit(MinhashPrime)).as(s"mh$k")
    }
    shingles
      .select(col("id"), phash32(col("sh")).as("h0"))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: band the signature, bucket-join within bands,
    * emit distinct (id_a < id_b) candidates. `bands` must divide
    * `numHashes`. This is the scale path: cost is Σ per-bucket pairs,
    * not n². */
  def minhashCandidates(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int,
      numHashes: Int,
      bands: Int): DataFrame =
    minhashCandidatesFromShingles(shingleRows(docs, idCol, textCol, n),
      numHashes, bands)

  /** (id, band, bucket) banded-LSH rows off the columnar min-table.
    * Bucket = portable hash of the band's comma-joined minima (seed
    * order) — banding is a projection, not a shuffle. Shared by the
    * in-memory candidate pipeline and [[NearDupIndex]]'s at-rest
    * bucket table (the SAME bucket values on both sides is what makes
    * an incremental batch joinable against a persisted index). */
  def bandedBuckets(shingles: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    // silent non-divisibility would drop trailing hash functions (a
    // different s-curve than requested); bands > numHashes would make
    // every bucket the constant phash("") — an all-pairs blowup
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rows = numHashes / bands
    val bandBuckets = array((0 until bands).map { b =>
      phash(concat_ws(",",
        (b * rows until (b + 1) * rows).map(i => col(s"mh$i").cast("string")): _*),
        -1)
    }: _*)
    minhashMinColumns(shingles, numHashes)
      .select(col("id"), posexplode(bandBuckets).as(Seq("band", "bucket")))
  }

  /** [[minhashCandidates]] over a prebuilt (id, sh) shingle table.
    *
    * `maxBucketSize` bounds the per-bucket pair blowup at scale: a
    * bucket of k colliding docs emits k·(k−1)/2 candidates, and a
    * mega-bucket (thousands of near-identical boilerplate docs) turns
    * quadratic. Buckets above the cap are dropped — their members are
    * near-identical by construction, which exact dedup ([[exactDuplicates]]
    * first, then canonical-only input here) should collapse before
    * LSH runs. Default keeps everything (bit-compatible with the
    * oracle). */
  def minhashCandidatesFromShingles(
      shingles: DataFrame,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    minhashCandidatesCapped(shingles, numHashes, bands,
      maxBucketSize = maxBucketSize).drop("capped_only")

  /** [[minhashCandidatesFromShingles]] with the HOT-BUCKET STAR ROUTE
    * (round-12, the HotKeys idiom composed into the band join): a
    * bucket of k > `hotBucketCap` colliding docs emits k−1 STAR pairs
    * to its minimum member instead of k·(k−1)/2 — linear, and by
    * construction every member stays connected to the bucket min, so
    * the d7 connected-components path still collapses the cluster to
    * ONE canonical (cluster recall 1.0 for the degenerate case the
    * cap exists for: a crawl shard of near-identical boilerplate).
    * What the cap trades away is PAIRWISE completeness inside hot
    * buckets — `capped_only` audits it (true = the pair exists only
    * through star routing, i.e. every bucket that produced it was
    * hot), so no silent caps. Unlike `maxBucketSize` (which DROPS
    * mega-buckets), star routing keeps the cluster signal. */
  def minhashCandidatesCapped(
      shingles: DataFrame,
      numHashes: Int,
      bands: Int,
      hotBucketCap: Int = Int.MaxValue,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    // Pairs via per-bucket grouping — a single pipeline; the self-join
    // alternative recomputes the whole signature plan for each side.
    bandedPairs(
      bandedBuckets(shingles, numHashes, bands)
        .select(col("id"), col("band"), col("bucket")),
      maxBucketSize, hotBucketCap)

  /** The shared bucket→pairs stage over (id, band, bucket) rows:
    * full pairs for cool buckets, k−1 star pairs (to the bucket-min
    * id) for buckets above `hotBucketCap`, buckets above
    * `maxBucketSize` dropped; distinct pairs with the `capped_only`
    * audit flag (true = no cool bucket produced this pair). */
  private def bandedPairs(banded: DataFrame, maxBucketSize: Int,
      hotBucketCap: Int): DataFrame =
    banded
      .groupBy("band", "bucket")
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucketSize)
      .withColumn("capped", size(col("ids")) > hotBucketCap)
      .withColumn("lefts",
        when(col("capped"), array(array_min(col("ids"))))
          .otherwise(col("ids")))
      .select(col("capped"), explode(col("lefts")).as("id_a"), col("ids"))
      .select(col("capped"), col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(expr("bool_and(capped)").as("capped_only"))

  /** Cross-corpus boilerplate report (the RefinedWeb/C4-style
    * repeated-span filter, re-expressed over n-grams): an n-gram
    * occurring in ≥ `minDf` DISTINCT documents is boilerplate; each
    * document reports its total grams, boilerplate grams, the
    * boilerplate fraction, and a keep flag (`hot_frac ≤ maxHotFrac`).
    * Docs shorter than n tokens emit no grams and are excluded.
    *
    * Scale shape: per-doc gram occurrence counts first (map-side
    * combinable groupBy), then gram document-frequency as a second
    * groupBy over the FIRST's output — the df join back to per-doc
    * rows reuses the gram hash partitioning from that groupBy, so the
    * whole report is two exchanges and never ships raw text twice.
    * Grams are pre-hashed to portable 60-bit longs BEFORE the first
    * exchange (as [[jaccardPairs]] does): only 8-byte keys shuffle,
    * never n-gram text, and the oracle stays bit-exact because it
    * groups by the same md5-derived hash. */
  def boilerplateReport(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int = 3,
      minDf: Long = 10L,
      maxHotFrac: Double = 0.3): DataFrame = {
    // share()d (round-16): perDocGram feeds BOTH the document-
    // frequency aggregate and the join's left side — unshared, the
    // corpus scan + shingle explode + per-doc aggregate executed
    // twice per run. The cached frame is (id, hash, count) — one row
    // per distinct gram per doc, never text.
    val perDocGram = share(shingleRows(docs, idCol, textCol, n)
      .groupBy(col("id"), phash(col("sh"), 0).as("gh"))
      .agg(count(lit(1)).as("occ")))
    val gramDf = perDocGram.groupBy(col("gh"))
      .agg(count(lit(1)).as("df"))
    perDocGram.join(gramDf, "gh")
      .groupBy(col("id").as("doc_id"))
      .agg(
        sum(col("occ")).as("n_grams"),
        sum(when(col("df") >= minDf, col("occ")).otherwise(0L)).as("n_hot"))
      .withColumn("hot_frac",
        round(col("n_hot").cast("double") / col("n_grams"), 6))
      .withColumn("keep",
        col("n_hot").cast("double") / col("n_grams") <= maxHotFrac)
  }

  /** SimHash near-duplicate pairs with an EXACT recall guarantee:
    * split the `bits`-bit fingerprint into `bands` chunks and bucket-
    * join on (band, chunk) — by pigeonhole, two fingerprints within
    * `maxHamming ≤ bands − 1` bits MUST agree on at least one whole
    * chunk, so banding finds every qualifying pair (recall 1.0, not
    * probabilistic like MinHash banding); candidates then verify with
    * a codegen'd `bit_count(a ^ b)`. The scale shape matches d2: one
    * explode, pairs via per-bucket grouping in a single pipeline (a
    * self-join would recompute the fingerprint plan per side), and
    * `maxBucketSize` bounds the quadratic blowup of a degenerate
    * chunk (e.g. the all-zeros fingerprint of near-empty docs) — the
    * same mega-bucket rationale as
    * [[minhashCandidatesFromShingles]]. Fingerprints, never text, in
    * the shuffle. */
  def simhashNearDupPairs(
      sims: DataFrame,
      maxHamming: Int = 1,
      bands: Int = 4,
      bits: Int = 60,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    simhashNearDupPairsCapped(sims, maxHamming, bands, bits,
      maxBucketSize = maxBucketSize).drop("capped_only")

  /** [[simhashNearDupPairs]] with the hot-bucket star route (round-12
    * — see [[minhashCandidatesCapped]] for the idiom): a degenerate
    * chunk bucket (the all-zeros fingerprint of near-empty docs, a
    * boilerplate shard) emits k−1 star candidates to its minimum
    * member instead of k·(k−1)/2. The hamming verify still applies
    * to every candidate, so precision is untouched; the pigeonhole
    * RECALL guarantee weakens only inside hot buckets (a qualifying
    * pair whose every shared chunk is hot surfaces only if one side
    * is the bucket min) — `capped_only` audits exactly those pairs,
    * and the identical-fingerprint cluster the cap targets stays
    * connected for the d7 component path. */
  def simhashNearDupPairsCapped(
      sims: DataFrame,
      maxHamming: Int = 1,
      bands: Int = 4,
      bits: Int = 60,
      hotBucketCap: Int = Int.MaxValue,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= bands - 1,
      s"recall guarantee needs maxHamming ($maxHamming) <= bands-1 (${bands - 1})")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    sims
      .select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("chunk",
        expr(s"shiftright(simhash, band * $bandBits) & $mask"))
      .groupBy(col("band"), col("chunk"))
      .agg(collect_list(struct(col("id"), col("simhash"))).as("ms"))
      .where(size(col("ms")) > 1 && size(col("ms")) <= maxBucketSize)
      // struct ordering is field-lexicographic, so array_min picks
      // the minimum id — the star center
      .withColumn("capped", size(col("ms")) > hotBucketCap)
      .withColumn("lefts",
        when(col("capped"), array(array_min(col("ms"))))
          .otherwise(col("ms")))
      .select(col("capped"), explode(col("lefts")).as("a"), col("ms"))
      .select(col("capped"), col("a"), explode(col("ms")).as("b"))
      .where(col("a.id") < col("b.id"))
      .select(col("capped"), col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .groupBy(col("id_a"), col("id_b"), col("sa"), col("sb"))
      .agg(expr("bool_and(capped)").as("capped_only"))
      .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"), col("capped_only"))
  }

  /** Connected components over a near-duplicate pair list: each node's
    * cluster id is the MINIMUM doc id reachable through pair edges —
    * the step between pairwise near-dup detection and "keep one doc
    * per duplicate cluster" (pairs alone over-delete: a~b, b~c must
    * collapse to ONE canonical, not two independent drops).
    *
    * Algorithm: iterative min-label propagation — each round every
    * node takes min(own label, neighbors' labels), a join + map-side
    * combinable groupBy per round, converging in O(component
    * diameter) rounds. Near-dup clusters are dense/star-like (tiny
    * diameter), so rounds stay in low single digits; the
    * alternating-star optimization (Kiveris et al.) drops in here if
    * a corpus ever produces deep chains. Each round `localCheckpoint`s
    * its labels — without truncation the logical plan doubles per
    * round (labels feeds both the join and the union) and Catalyst
    * chokes on the exponential tree long before the data does. On a
    * real cluster use reliable `checkpoint` instead if executor loss
    * mid-build must be survivable.
    *
    * `pairs` needs columns (id_a, id_b) and SHOULD be deduplicated
    * with id_a < id_b (every current caller's shape): duplicate
    * edges never change labels (min-label propagation is duplicate-
    * insensitive) but each one rides every round's join and shuffle,
    * so a raw pair stream multiplies the loop's cost for nothing.
    * Output (id, label) covers
    * every id that appears in some pair (singletons are their own
    * canonical by definition and don't need rows). `maxIters` is a
    * safety valve, not a tuning knob: a graph whose diameter exceeds
    * it THROWS rather than returning silently-non-minimal labels
    * (which would make downstream cluster canonicals wrong with no
    * signal) — raise it, or switch to alternating-star, if a corpus
    * ever produces chains that deep. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // round-9 exchange-elimination (the LabelProp.communities
    // discipline): edges hash(dst) and labels hash(id) are pinned once
    // up front with explicit partition counts — localCheckpoint
    // captures the partitioning, so each round's edges⋈labels join is
    // co-partitioned and the only per-round shuffle is the min-label
    // union-aggregate. The convergence check rides THAT aggregate
    // (previous label folded in via a tagged union), so the old
    // per-round next⋈labels compare-join is gone — `changed` is a
    // filter-count over the freshly checkpointed round state.
    // Round-15 prologue diet: both directions come from ONE explode
    // over the pair stream — the union form referenced `pairs` twice,
    // so an un-materialized caller pipeline (d7/d8/d18/p8/p17 all
    // pass the live verify pipeline) executed once per direction —
    // and the defensive `distinct()` shuffle is gone: min-label
    // propagation is duplicate-insensitive (every per-round operator
    // is a min/max over neighbors, and the convergence count rides a
    // per-id aggregate), so duplicate edges can change cost, never
    // labels — and every current caller passes already-distinct
    // (id_a < id_b) pairs, whose two orientations are disjoint by
    // construction. Callers SHOULD pass deduplicated pairs: labels
    // stay correct under duplicates, but every duplicate edge rides
    // every round's join/shuffle (ADVICE r15).
    //
    // Round-16 (VERDICT r15 #1): the loop partition count follows the
    // MEASURED edge bytes, not the core count — the raw edge list is
    // checkpointed once un-pinned (one execution of the caller's
    // pipeline), sized through the block manager, then re-pinned to
    // hash(dst) at that data-driven count (see [[Parts]]). The extra
    // pass re-reads the materialized 16-byte edge rows, never the
    // caller's pipeline.
    val edges0 = pairs
      .select(explode(array(
        struct(col("id_a").cast("long").as("src"),
          col("id_b").cast("long").as("dst")),
        struct(col("id_b").cast("long").as("src"),
          col("id_a").cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)
    val parts = Parts.forCheckpointed(edges0)
    val edges = edges0
      .repartition(parts, col("dst"))
      .localCheckpoint(true)
    Bridge.unpersistCheckpoint(edges0)
    // seed with min(self, neighbors) — the state identity labels reach
    // after one full propagation round, for the cost of one groupBy
    // (no join): star-shaped clusters, the common dedup case, then
    // converge in a single confirming round
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("_mn"))
      .select(col("src").as("id"),
        least(col("src"), col("_mn")).as("label"))
      .repartition(parts, col("id")) // pin the count: AQE coalesces aggs
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("label"))
      // Round-16 job diet (VERDICT r15 #1): the convergence count
      // rides an ACCUMULATOR bumped while the checkpoint job
      // materializes each row — the separate per-round count() job
      // is gone (2 driver actions per round → 1). Accumulator
      // semantics are safe here: a retried/speculated task can only
      // ADD (over-count ⇒ at worst one extra round, never a wrong
      // label), and an under-count is impossible because every
      // partition materializes at least once. The UDF is marked
      // non-deterministic so the optimizer can never duplicate or
      // collapse the bumping projection.
      val acc = pairs.sparkSession.sparkContext.longAccumulator
      val bump = udf((l: Long, p: java.lang.Long) => {
        if (p == null || p.longValue != l) acc.add(1L); l
      }).asNondeterministic()
      // every id has EXACTLY one self-tagged row (labels is keyed by
      // id, and viaNeighbors only re-emits edge sources, all of which
      // labels covers), so max(when(self)) recovers the previous
      // label loss-free
      val next = labels.withColumn("self", lit(1))
        .unionByName(viaNeighbors.withColumn("self", lit(0)))
        .groupBy(col("id"))
        .agg(min(col("label")).as("_lbl"),
          max(when(col("self") === 1, col("label"))).as("prev"))
        .select(col("id"), bump(col("_lbl"), col("prev")).as("label"))
        .localCheckpoint(true) // truncate lineage; O(1) plan depth
      changed = acc.value
      // next is eagerly materialized: the superseded round's blocks
      // are unreachable from any live plan — reclaim them NOW instead
      // of waiting for a driver GC to collect their weak refs
      // (round-10, ADVICE r9: long-lived sessions accumulated every
      // round's labels in storage memory / tmpfs)
      Bridge.unpersistCheckpoint(labels)
      labels = next
      iter += 1
    }
    // the returned labels frame is a flat checkpoint — it references
    // neither the edge frame nor any superseded round
    Bridge.unpersistCheckpoint(edges)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"($changed labels still changing) — component diameter exceeds " +
          "maxIters; raise it or use an alternating-star variant")
    labels
  }

  /** 64-bit SimHash per document: bitwise majority over per-token
    * portable hashes (60 usable bits). Emits (id, simhash). */
  /** Blocked edit-distance matching — the entity-resolution kernel:
    * candidate pairs share an exact blocking key (a cheap, high-recall
    * surrogate like a title prefix or a phonetic code chosen by the
    * caller), and only in-block pairs pay the O(len²) levenshtein
    * verify. Emits `(id_a, id_b, dist)` with `id_a < id_b` and
    * `dist <= maxDist`; levenshtein's DP is pure integer arithmetic,
    * so results are engine-exact.
    *
    * Scale shape: the block join is an equi-join on the key (one
    * shuffle, never all-pairs); a hot key (an empty or boilerplate
    * title) would make its block quadratic, so blocks above
    * `maxBlock` rows are dropped wholesale BEFORE pairing — the d2 /
    * d4v mega-bucket rule: bounded work, may under-report, never
    * over-reports. */
  def blockedEditPairs(docs: DataFrame, idCol: Column, valCol: Column,
      blockCol: Column, maxDist: Int, maxBlock: Long): DataFrame = {
    // share both the projected input (feeds the block-size agg AND
    // the capped join) and the capped rows (feed BOTH self-join
    // sides): without it the upstream subtree executes four times —
    // the p13/d11 multi-consumer lesson
    val t = share(docs.select(idCol.as("id"), valCol.as("v"),
      blockCol.as("blk")))
    val small = t.groupBy(col("blk")).agg(count(lit(1)).as("_n"))
      .where(col("_n") <= maxBlock).select(col("blk"))
    val b = share(t.join(small, Seq("blk")))
    val a = b.select(col("blk"), col("id").as("id_a"), col("v").as("va"))
    b.select(col("blk"), col("id").as("id_b"), col("v").as("vb"))
      .join(a, Seq("blk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("va"), col("vb")).cast("long").as("dist"))
      .where(col("dist") <= maxDist)
  }

  def simhash(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val tok = docs.select(
      idCol.as("id"),
      explode(array_distinct(split(textCol, " "))).as("tok"))
    val hashed = tok.select(col("id"), phash(col("tok"), 0).as("h"))
    // COLUMNAR bit-majority (round-15, the minhashMinColumns idiom):
    // the 60 per-bit ±1 sums are 60 aggregate COLUMNS of one map-side
    // combinable groupBy(id), not 60 exploded rows per token feeding
    // a (id, bit) exchange and a second groupBy(id) — the row variant
    // shuffled 60× the token count and paid two exchanges; this
    // shuffles one 60-long buffer per id through one. The sums are
    // the same integers in the same ±1 arithmetic, so the fingerprint
    // (and the DuckDB oracle, which keeps the row form) is bit-exact.
    val sums = (0 until 60).map { b =>
      sum(when(expr(s"shiftright(h, $b) & 1") === 1, 1).otherwise(-1))
        .as(s"s$b")
    }
    hashed.groupBy("id")
      .agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until 60).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }
}
