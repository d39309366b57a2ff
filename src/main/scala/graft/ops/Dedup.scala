package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication family for a training-data pipeline (SURVEY §2.D1–D5):
  * exact (content hash), MinHash+LSH, SimHash, exact n-gram Jaccard
  * (PPJoin prefix filter), and embedding-cosine near-dup.
  *
  * Architecture, in the order the levers matter at 100 TB:
  *  1. EXACT-DUP COLLAPSE first ([[ShingleCorpus]] / SimhashCorpus):
  *     every pairwise stage runs on unique sets/texts only; doc-level
  *     answers come back via a docToRep join. Dup-heavy corpora (web
  *     crawls) shrink quadratically here with unchanged semantics.
  *  2. Signatures computed row-local: MinHash via the native
  *     codegen'd [[graft.functions.MinHashSig]] expression (one
  *     primitive pass per set, zero data movement), SimHash via a
  *     bit-fold projection; materialized once (checkpoint) because
  *     multiple subtrees consume them.
  *  3. Candidate generation only through LSH band buckets or PPJoin
  *     rarest-prefix postings, both with a bucket-size cap
  *     ([[capBuckets]]) as the skew guard (a degenerate bucket is
  *     quadratic and serializes one reducer).
  *  4. Exact verification (set intersection / cosine / Hamming) runs
  *     only on deduplicated candidate pairs.
  *
  * Near-dup queries return one row per document: `doc_id, keep_id`
  * where `keep_id` is the smallest doc_id among the doc's near-dup
  * neighbors (itself if unique) — i.e. "drop rows where keep_id <
  * doc_id" is the dedup action. This shape is deterministic and
  * non-empty regardless of how many dups the corpus has.
  */
object Dedup {

  /** Word 3-gram shingle IDs, distinct, first-occurrence order (empty
    * for docs shorter than 3 tokens). Each token is xxhash64'ed once
    * and a shingle is the xxhash64 of its three token hashes — the
    * n-gram STRING is never built, so every downstream stage (sort,
    * set-key digest, inverted index, intersect/union verify) runs on
    * fixed-width longs instead of ~20-char strings (measured: the
    * string formulation spent the bulk of dedup_minhash's wall-clock
    * building and re-hashing n-grams). 64-bit ids collide at ~d²/2⁶⁵
    * for d distinct shingles — immaterial for dedup statistics even at
    * 1e9 distinct shingles.
    *
    * Computed by the native one-pass [[graft.functions.ShingleIds]]
    * expression; [[shinglesSql]] keeps the built-in-function
    * formulation it replaced, and a spec pins them elementwise-equal.
    */
  def shingles(text: Column): Column = graft.functions.shingleIds(text)

  /** The built-ins formulation [[shingles]] replaced (and its oracle
    * in specs): split → per-token xxhash64 → 3-gram roll via
    * arrays_zip of three shifted slices → array_distinct. NOT
    * element_at(th, i) inside the lambda: an outer-scope array
    * referenced per-element gets re-inlined into the lambda body (the
    * CollapseProject recompute blowup — measured 2.5x WORSE than the
    * n-gram-string formulation); as arguments to arrays_zip the slices
    * are evaluated once per row. Even so, this chain allocates token
    * strings, token hashes, three slices, zip structs and the raw
    * shingle array per row — the native expression allocates one
    * long[] and a probe table.
    */
  private[ops] def shinglesSql(text: Column): Column = {
    val th = transform(split(text, "\\s+"), t => xxhash64(t))
    val n = size(th)
    array_distinct(
      when(n >= 3,
        transform(
          arrays_zip(slice(th, lit(1), n - 2).as("a"),
            slice(th, lit(2), n - 2).as("b"),
            slice(th, lit(3), n - 2).as("c")),
          s => xxhash64(s.getField("a"), s.getField("b"), s.getField("c"))))
        .otherwise(array().cast("array<bigint>")))
  }

  /** 64-slot MinHash signature: element k = min over shingles of
    * murmur3(shingle, k). `hash(s, k)` folds k into the hash, giving
    * 64 independent-enough hash families without custom seeds.
    */
  val MinhashK = 64
  val Bands = 16 // 16 bands x 4 rows

  /** Exact-collapsed shingle corpus — the shared front-end of the
    * near-dup operators:
    *  - `docToRep`: doc_id -> rep, where rep is the smallest doc_id
    *    with an IDENTICAL shingle set (exact-dup collapse: on
    *    dup-heavy corpora this shrinks every pairwise stage
    *    quadratically, with unchanged semantics — exact dups have the
    *    same signatures and the same jaccard to everything);
    *  - `sets`: the shingle-id set PER UNIQUE SET only.
    * The collapse itself is the skew-proof [[Collapse]] shape
    * (groupBy + join-back, never a digest-keyed window — see the
    * Collapse scaladoc for why a viral doc kills WindowExec). Two
    * frames materialize ([[graft.Lineage.cut]] truncates the plan
    * lineage; consumers re-read persisted — and, since round 7,
    * recomputable — blocks): the shingle projection (it feeds both the
    * collapse aggregate and the join-back; without the cut the
    * expensive shingle pass would run twice) and the rep table (it
    * feeds `sets`' several consumers and the doc→rep join).
    * The MinHash signature table is NOT part of the corpus —
    * only the minhash path needs it ([[sigsOf]]); jaccard/cluster
    * operators must not pay its 64-min aggregation. Deployments that
    * cannot afford even recompute-from-source set
    * `graft.checkpoint.dir` to route every cut through reliable
    * checkpoint files instead.
    */
  private case class ShingleCorpus(docToRep: DataFrame, sets: DataFrame)

  private def shingleCorpus(s: SparkSession, dir: String): ShingleCorpus =
    shingleCorpusOf(Tables.load(s, dir, "documents"))

  private def shingleCorpusOf(docs: DataFrame): ShingleCorpus = {
    val proj = docs
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      // set identity = two independent hashes of the sorted id array
      // (96 bits; a collision falsely merges two docs as exact dups —
      // ~n²/2⁹⁶, immaterial even at 1e12 unique sets, same budget as
      // the 64-bit shingle ids). Hashing the array natively replaced
      // md5(to_json(...)): the JSON serialization built a ~20-bytes-
      // per-shingle string per doc and was the corpus build's single
      // most expensive expression.
      .withColumn("setkey", struct(
        xxhash64(array_sort(col("sh"))),
        hash(array_sort(col("sh")))))
      .transform(graft.Lineage.cut)
    // min_by carries the rep row's OWN shingle array (bit-identical to
    // the rep-row filter it replaces: rep = min doc_id, ids unique)
    val reps = Collapse.reps(proj, "setkey", payloads = Seq("sh"))
      .transform(graft.Lineage.cut)
    val docToRep = Collapse.docToRep(proj, reps, "setkey")
    val sets = reps.select(col("rep").as("doc_id"), col("sh"))
    ShingleCorpus(docToRep, sets)
  }

  /** 64-slot MinHash signatures for the unique sets, via the native
    * codegen'd [[graft.functions.MinHashSig]] expression: one
    * primitive pass per row inside the projection that already holds
    * the set — zero data movement. Slot k = min(murmur3(id, k)),
    * bit-identical to the earlier explode + 64-min HashAggregate
    * formulation (which shuffled the whole exploded corpus into a
    * partial agg; and before that, a nested-HOF projection that
    * CollapseProject re-inlined into every band slot — a ~1000x
    * recompute blowup). Hashing the fixed-width long id per slot
    * rather than the n-gram string preserves the family's
    * independence (hash-of-hash). Checkpointed: it feeds both sides
    * of the band self-join; the materialized signatures are tiny
    * (64 ints per unique set) and lineage truncation keeps the
    * self-join from re-reading the corpus twice.
    */
  private def sigsOf(sets: DataFrame): DataFrame =
    sets
      .select(col("doc_id"), graft.functions.minhashSig(col("sh"), MinhashK).as("sig"))
      .transform(graft.Lineage.cut)

  /** (band, band_hash) rows for LSH banding. */
  def bandStructs(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      b => struct(b.as("band"), hash(slice(sig, b * (MinhashK / Bands) + 1, lit(MinhashK / Bands))).as("bhash")))

  /** Skew guard: LSH bucket joins are quadratic in bucket size, and a
    * degenerate bucket (boilerplate shingles, the all-identical band)
    * turns one reducer into the whole job. Production dedup pipelines
    * cap bucket size and skip the overflow (those pairs are caught by
    * other bands with overwhelming probability). 10k keeps the
    * worst bucket's pair fan-out bounded at ~5e7 per band.
    */
  val MaxBucket = 10000

  private[ops] def capBuckets(banded: DataFrame, keys: Seq[String],
      cap: Int = MaxBucket): DataFrame = {
    // groupBy-count + left-semi, NOT count(1) OVER (PARTITION BY keys):
    // the degenerate bucket this guard exists for is exactly the key a
    // window cannot split — every row of the viral bucket would land in
    // ONE WindowExec task just to be counted and discarded. The partial
    // aggregation counts it map-side, and the overflow bucket's rows
    // simply never match the semi-join's keep-set (skewed semi joins
    // are AQE-splittable; the follow-on bucket self-join reuses the
    // same key partitioning).
    val ok = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") <= cap)
      .select(keys.map(col): _*)
    banded.join(ok, keys, "left_semi")
  }

  /** D2: MinHash+LSH near-dup with exact-Jaccard verification, on the
    * exact-collapsed corpus. A doc's smallest near-dup neighbor equals
    * its group's keep_rep (rep = min member, and every member has the
    * same jaccard to everything), so the doc-level answer is a join of
    * docToRep with the rep-level result — no pairwise work at doc
    * granularity.
    */
  def dedupMinhash(s: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    dedupMinhashOn(Tables.load(s, dir, "documents"), threshold)

  /** [[dedupMinhash]] on an arbitrary (doc_id, text) frame — the seam
    * the planted-pair recall spec drives.
    */
  def dedupMinhashOn(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val c = shingleCorpusOf(docs)
    val withSets = minhashPairs(c.sets, threshold)
    val neighborMin = withSets.select(col("a").as("rep"), col("b").as("nbr"))
      .unionByName(withSets.select(col("b").as("rep"), col("a").as("nbr")))
      .groupBy("rep").agg(min(col("nbr")).as("min_nbr"))
    val repKeep = c.sets.select(col("doc_id").as("rep"))
      .join(neighborMin, Seq("rep"), "left")
      .select(col("rep"),
        least(coalesce(col("min_nbr"), col("rep")), col("rep")).as("keep_rep"))
    // join base = raw table: docs with <3 tokens have no shingles (and
    // no rep) but must still appear with keep_id = themselves.
    docs.select(col("doc_id"))
      .join(c.docToRep, Seq("doc_id"), "left")
      .join(repKeep, Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("keep_rep"), col("doc_id")).as("keep_id"))
      .orderBy("doc_id")
  }

  /** Exact-Jaccard-verified candidate pairs (a < b, rep level) from
    * the MinHash LSH banding — the probabilistic recall surface the
    * planted-pair spec measures (a pair at jaccard j is a candidate
    * with p = 1 - (1 - j^4)^16 under 16 bands x 4 rows: ~0.64 right
    * AT a 0.5 threshold, >=0.97 from j ~ 0.65 up).
    */
  private[ops] def minhashPairs(sets: DataFrame, threshold: Double): DataFrame = {
    // checkpointed like jaccardPairs' prefix: the self-join consumes
    // banded twice, re-running the band explode + cap window per side
    val banded = capBuckets(sigsOf(sets)
      .select(col("doc_id"), explode(bandStructs(col("sig"))).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bhash")),
      Seq("band", "bhash"))
      .transform(graft.Lineage.cut)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(sets.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact-collapsed simhash corpus: identical TEXTS (simhash is over
    * the token stream, not the set) collapse to the smallest doc_id;
    * votes are aggregated per unique text only.
    */
  private case class SimhashCorpus(docToRep: DataFrame, uniq: DataFrame)

  private def simhashCorpusOf(docs: DataFrame): SimhashCorpus = {
    // No cut on the projection: the digest is one cheap md5 pass, so
    // the two consumers just scan the (pruned) source twice — the
    // join-back side never touches `text` at all, and full texts cross
    // no exchange anywhere (the window this replaces shuffled every
    // copy's text; min_by ships one text per digest per map task).
    val proj = docs
      .select(col("doc_id"), col("text"))
      .withColumn("tkey", Collapse.textKey(col("text")))
    val reps = Collapse.reps(proj, "tkey", payloads = Seq("text"))
      .transform(graft.Lineage.cut) // feeds the doc→rep join AND simhashOf
    val docToRep = Collapse.docToRep(proj, reps, "tkey")
    val uniqText = reps.select(col("rep").as("doc_id"), col("text"))
    SimhashCorpus(docToRep, simhashOf(uniqText))
  }

  /** Row-local simhash projection; checkpointed (once — the only
    * checkpoint on this table) because the banding self-join consumes
    * it twice. Null texts are dropped to preserve the aggregate
    * formulation's semantics exactly: explode(split(null)) emitted no
    * vote rows, so such docs never had a simhash (they still get
    * keep_id = themselves through [[dedupSimhash]]'s left-join base).
    */
  private def simhashOf(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), graft.functions.simhash64(col("text")).as("simhash"))
      .transform(graft.Lineage.cut)

  /** The aggregate formulation [[simhashOf]] replaced (spec oracle):
    * explode tokens, xxhash64 each token ONCE, 64 partial-aggregated
    * ±1 bit votes (a whole aggregation stage), sign fold to a Long
    * with shiftleft|OR (ANSI-safe — no overflow). Same
    * recompute-blowup rationale as [[ShingleCorpus]].
    */
  private[ops] def simhashSqlOf(docs: DataFrame): DataFrame = {
    val votes = docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("h").bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as("v0"),
        (1 until 64).map(b =>
          sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$b")): _*)
    votes.select(col("doc_id"),
      (0 until 64).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** D3: SimHash near-dup — band the 64-bit signature into 4x16-bit
    * buckets (Hamming-3-safe by pigeonhole for <=3 differing bits ...
    * across 4 bands at least one band matches exactly), verify with
    * bit_count(xor) <= 3.
    */
  def dedupSimhash(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    dedupSimhashOn(Tables.load(s, dir, "documents"), maxHamming)

  /** Hamming-verified candidate pairs (a < b, rep level) from the
    * 4x16-bit banding. For maxHamming <= 3 the banding loses NOTHING
    * (pigeonhole: <= 3 differing bits can dirty at most 3 of the 4
    * bands), so — unlike MinHash banding — recall here is exactly 1
    * modulo [[capBuckets]]; the planted-pair spec asserts equality
    * with the exact all-pairs answer, not a floor.
    */
  private[ops] def simhashPairs(uniq: DataFrame, maxHamming: Int): DataFrame = {
    // checkpointed for the same two-consumer reason as dedupMinhash
    val banded = capBuckets(uniq.select(col("doc_id"), col("simhash"),
        explode(expr("transform(sequence(0, 3), b -> struct(b as band, shiftright(simhash, b * 16) & 65535 as bhash))")).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band"), col("b.bhash")),
      Seq("band", "bhash"))
      .transform(graft.Lineage.cut)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("x.simhash").as("ha"),
        col("y.doc_id").as("b"), col("y.simhash").as("hb"))
      .distinct()
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
  }

  /** [[dedupSimhash]] on an arbitrary (doc_id, text) frame — the seam
    * the planted-pair recall spec drives.
    */
  def dedupSimhashOn(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val c = simhashCorpusOf(docs)
    val cand = simhashPairs(c.uniq, maxHamming)
    val neighborMin = cand.select(col("a").as("rep"), col("b").as("nbr"))
      .unionByName(cand.select(col("b").as("rep"), col("a").as("nbr")))
      .groupBy("rep").agg(min(col("nbr")).as("min_nbr"))
    // doc-level answer via docToRep (identical text => identical
    // simhash => identical neighbors; rep = min member)
    c.docToRep
      .join(c.uniq.withColumnRenamed("doc_id", "rep"), "rep")
      .join(neighborMin, Seq("rep"), "left")
      .select(col("doc_id"), col("simhash"),
        least(coalesce(col("min_nbr"), col("rep")), col("rep")).as("keep_id"))
      .orderBy("doc_id")
  }

  /** D4: exact n-gram Jaccard similarity join with PPJoin-style prefix
    * filtering (Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08; same family as the VernicaJoin
    * MapReduce set-similarity join): only each doc's
    * `n - ceil(t*n) + 1` globally-RAREST shingles are indexed — any
    * pair with Jaccard >= t must share at least one prefix shingle, so
    * the prefix filter itself loses no pairs, while the candidate set
    * shrinks by orders of magnitude (the naive full inverted index
    * regenerates every pair once per shared shingle: measured 711s vs
    * ~30s on a 50k-doc corpus with 10x dup structure). Candidates are
    * deduped, then verified with exact set intersection. Returns the
    * top-K pairs with jaccard >= threshold.
    *
    * Recall caveat: [[capBuckets]] drops prefix postings whose unique-
    * set frequency exceeds [[MaxBucket]], so a pair whose ONLY shared
    * prefix shingle is that degenerate posting is lost — unlike LSH
    * banding there is no "other band" to catch it here. This is a
    * deliberate approximation for pathological shingle distributions
    * (a shingle rare enough to be in a prefix yet appearing in >10k
    * DISTINCT shingle sets implies a near-boilerplate corpus slice);
    * on corpora without such postings recall is exact.
    */
  /** Per-group member slice with BOUNDED aggregation state: the topK+1
    * smallest member ids per group via the bounded
    * [[graft.functions.TopKAgg]] aggregator (O(k) buffer; the map-side
    * partial aggregation does the selection, so a viral doc duplicated
    * 1e8 times contributes k-sized buffers per map task, never 1e8
    * rows in one place). Replaced a row_number window over `rep` —
    * same viral-group single-task exposure as the [[Collapse]] seam,
    * since a window partition cannot be split. TopKAgg orders by
    * (negScore, id); a constant score makes that "k smallest ids",
    * ascending — exactly the sort_array(collect_list) slice it
    * replaces. The group count aggregates alongside (single long of
    * state).
    */
  private[ops] def boundedMembers(docToRep: DataFrame, topK: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(topK + 1))
    docToRep
      .groupBy(col("rep"))
      .agg(topk(lit(0.0), col("doc_id")).as("cand"),
        count(lit(1)).as("m"))
      .select(col("rep"),
        transform(col("cand"), c => c.getField("id")).as("members"),
        col("m"))
  }

  /** Exact-verified inter-group jaccard pairs over the unique sets,
    * via the PPJoin prefix filter (Xiao et al., WWW'08): index each
    * set's n - ceil(t*n) + 1 globally-rarest shingles — any pair with
    * jaccard >= t shares a prefix shingle, so recall stays exact
    * (modulo [[capBuckets]] on degenerate postings) while candidates
    * shrink by orders of magnitude vs the full inverted index.
    * Returns (a, b, common, jaccard) with a < b at rep level.
    */
  private[ops] def jaccardPairs(uniq: DataFrame, threshold: Double,
      maxBucket: Int = MaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = uniq.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("shingle"))
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    // checkpointed: the self-join below consumes prefix TWICE, and an
    // unmaterialized subtree re-runs the inverted index + df aggregate
    // + both windows per side (plan-audited round 5: the whole chain
    // appeared twice in the physical plan; materializing it measured
    // jaccard 4.0->3.6s, clusters 4.9->4.1s at sf0.1 — partial exchange
    // reuse had hidden some of the recompute). The materialized
    // postings are two longs per prefix token.
    // postings carry n_sh and rk (two extra ints) for the LENGTH and
    // POSITIONAL filters below — PPJoin's other exact bounds, added
    // r17 (guide §2.3)
    val prefix = capBuckets(
      inv.join(dfreq, "shingle")
        .withColumn("rk", row_number().over(byRarity))
        .filter(col("rk") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
        .select("doc_id", "n_sh", "rk", "shingle"),
      Seq("shingle"), maxBucket)
      .transform(graft.Lineage.cut)
    // Length filter (Xiao et al. WWW'08 §3): jaccard(A,B) <=
    // min(|A|,|B|)/max(|A|,|B|) — common <= min and union >= max — so
    // any pair with min/max < t is dropped INSIDE the join, before the
    // candidate distinct's exchange and the verify joins. Exactly
    // result-invariant versus the double-precision verify: correctly-
    // rounded division is monotone over rationals, so double(c/u) <=
    // double(min/max), and a pair this filter drops could never pass
    // `jaccard >= threshold` below.
    //
    // Positional filter (ibid. §4): rk ranks a doc's shingles in the
    // GLOBAL (df, shingle) rarity order — the same total order for
    // every doc — so for a pair's FIRST shared prefix shingle, every
    // other shared shingle ranks later in BOTH docs and
    // common <= ub = 1 + min(n_x - rk_x, n_y - rk_y). The filter keeps
    // a posting row iff ub/(n_x + n_y - ub) >= t; jaccard = f(common)
    // with f increasing and double division monotone over rationals,
    // so a pair whose EVERY shared row fails has double-jaccard < t
    // and could never pass the verify — while a true pair's first
    // shared row always passes (its ub bounds common from above).
    // Exact, like the length filter; candidates whose one shared
    // prefix token sits deep in both prefixes die here instead of in
    // the verify join.
    val ub = lit(1) +
      least(col("x.n_sh") - col("x.rk"), col("y.n_sh") - col("y.rk"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.n_sh"), col("y.n_sh")).cast("double") /
            greatest(col("x.n_sh"), col("y.n_sh")).cast("double") >= threshold &&
          ub.cast("double") /
            (col("x.n_sh") + col("y.n_sh") - ub).cast("double") >= threshold)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // exact verify on unique-set pairs (inter-group jaccard < 1 by
    // construction: equal sets share a group)
    cand
      .join(uniq.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(uniq.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("common"), col("jaccard"))
  }

  def dedupJaccard(s: SparkSession, dir: String, threshold: Double = 0.5,
      topK: Int = 50): DataFrame = {
    // EXACT-DUP COLLAPSE first (see ShingleCorpus): the pairwise join
    // runs on unique sets only (measured: 50k docs with 10x dup
    // structure -> 41M candidate pairs without collapse, ~0.5M with).
    // Each group keeps its topK+1 smallest member ids: doc pairs are
    // ranked (jaccard DESC, a, b), so every final pair is a
    // combination of the K smallest members.
    val c = shingleCorpus(s, dir)
    // per-group member slices, needed only by this operator
    val members = boundedMembers(c.docToRep, topK).transform(graft.Lineage.cut)
    val uniq = c.sets
    val inter = jaccardPairs(uniq, threshold)

    // top group-pairs, then bounded expansion to doc pairs: the K
    // smallest (a, b) combos of a group-pair lie in (K smallest of A)
    // x (K smallest of B), so topK group-pairs x sliced members cover
    // the global doc-level topK exactly.
    val topInter = inter.orderBy(desc("jaccard"), col("a"), col("b")).limit(topK)
      .join(members.select(col("rep").as("a"), col("members").as("ma")), "a")
      .join(members.select(col("rep").as("b"), col("members").as("mb")), "b")
      .select(explode(col("ma")).as("da"), col("mb"), col("common"), col("jaccard"))
      .select(col("da"), explode(col("mb")).as("db"), col("common"), col("jaccard"))
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"), col("common"), col("jaccard"))

    // intra-group doc pairs are exact dups: jaccard 1.0, common = |set|
    val topIntra = members.filter(col("m") >= 2)
      .join(uniq.select(col("doc_id").as("rep"), size(col("sh")).cast("long").as("common")), "rep")
      .orderBy("rep").limit(topK)
      .select(explode(col("members")).as("da"), col("members"), col("common"))
      .select(col("da"), explode(col("members")).as("db"), col("common"))
      .filter(col("da") < col("db"))
      .select(col("da").as("a"), col("db").as("b"), col("common"),
        lit(1.0).as("jaccard"))

    topIntra.unionByName(topInter)
      .orderBy(desc("jaccard"), col("a"), col("b"))
      .limit(topK)
  }

  /** Connected components — alternating large-star/small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond"), the O(log n)-round formulation: each round rewires
    * every node toward its neighborhood minimum (large-star connects
    * larger neighbors to the min, small-star the rest), so component
    * depth HALVES per round instead of shrinking by one hop. Same
    * keyed-shuffle shape per round as min-label propagation (one
    * groupBy + one join), but a 1000-link chain converges in ~10
    * rounds instead of ~1000 — depth insurance for adversarial dup
    * graphs at 100× (near-dup components are usually shallow, but
    * boilerplate chains A~B~C~… are exactly how crawl corpora
    * degenerate). Round-count behavior is spec-pinned against the
    * label-propagation twin, which stays available below for the
    * comparison.
    */
  private[ops] def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame =
    ccAlternatingStar(nodes, edges, maxIter)._1

  /** One large-star round: ∀u, connect every LARGER neighbor of u to
    * min(N(u) ∪ u). Takes the round's MATERIALIZED undirected view
    * ([[roundUnd]] — both edge directions, hash(u, w)); leaves
    * deduped, oriented u > v, hash partitioned on u at width `w`.
    *
    * r17 round shape (guide §2.4): the cut und frame already carries
    * the round's partitioning, so the min-neighbor aggregate, the
    * neighbor join and the final pair dedup all satisfy their
    * required distributions over it (hash(u) clusters (u, v) too) and
    * the star plans exactly ONE exchange — the rewired-pair
    * repartition — instead of the three EnsureRequirements inserted
    * at AQE's 1024 initial width (the agg exchange, the join's und
    * re-shuffle, and a both-column distinct exchange; r16 §4 negative
    * finding 3).
    */
  private def largeStar(und: DataFrame, w: Int): DataFrame = {
    val m = und.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    // build side is one row per node id: hash build per co-partitioned
    // task, no sort of the (larger) und side
    und.join(m.hint("shuffle_hash"), "u").filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .repartition(w, col("u"))
      .dropDuplicates("u", "v")
  }

  /** The round's undirected edge view, MATERIALIZED hash(u, w): cut so
    * that [[largeStar]]'s two consumers (the min aggregate and the
    * neighbor join) read one persisted frame instead of re-deriving —
    * and re-exchanging — the union twice (the filter pushdown splits
    * an unmaterialized union into a filtered join copy and an
    * unfiltered aggregate copy), and so that the join's children are
    * both NON-exchange nodes at width w. The latter is load-bearing:
    * EnsureRequirements excludes raw ShuffleExchangeExec children from
    * its keep-their-width vote, and with the repartition exchange as a
    * direct join child it re-exchanged BOTH sides at the 1024 initial
    * width (measured r17: semantic_clusters' CC rounds ran 1024-task
    * stages; with the cut the round plans keep width w throughout).
    * The caller frees the frame once the round's output materializes.
    */
  private def roundUnd(e: DataFrame, w: Int): DataFrame =
    graft.Lineage.cut(
      e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(w, col("u")))

  /** One small-star round: ∀u, connect u and all its (smaller)
    * neighbors to its minimum neighbor. Input must be oriented u > v
    * and deduped — exactly what [[largeStar]] emits (its output pairs
    * are (old v, m) with m ≤ old u < old v, minus self-loops), so the
    * orientation pass the unoriented form needed (greatest/least, which
    * as non-attribute expressions also destroyed the incoming
    * partitioning) is dropped, and the whole round reuses the input's
    * hash(u) width-w layout: only the final rewired-pair repartition
    * exchanges. Output is again deduped, oriented u > v, hash(u, w).
    */
  private def smallStar(e: DataFrame, w: Int): DataFrame = {
    val m = e.groupBy("u").agg(min(col("v")).as("m"))
    e.join(m.hint("shuffle_hash"), "u")
      .select(explode(array(
        struct(col("v").as("a"), col("m").as("b")),
        struct(col("u").as("a"), col("m").as("b")))).as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"))
      .filter(col("u") =!= col("v"))
      .repartition(w, col("u"))
      .dropDuplicates("u", "v")
  }

  /** The alternating-star loop; returns (labels, rounds). At the
    * fixpoint the edge set is a forest of stars rooted at each
    * component's minimum, so labels read straight off the edges.
    * Per-round frames are Lineage.cut (flat re-analysis per round)
    * and freed once the convergence check — the round's last reader —
    * is done (the round-5 bench-drift lesson).
    */
  private[ops] def ccAlternatingStar(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25): (DataFrame, Int) = {
    val spark = nodes.sparkSession
    val cut0 = graft.Lineage.cutCounted(
      edges.select(col("a").as("u"), col("b").as("v"))
        .filter(col("u") =!= col("v")).distinct())
    var e = cut0._1
    var eCount = cut0._2
    // one shared scale-adaptive width for every round's star frames
    // (sized from the INITIAL edge list — rounds only shrink it): the
    // cut roots stay plain hash(u, w), so each round's aggregations,
    // joins and dedups — and the convergence except(), an anti join on
    // (u, v) that hash(u) clusters — all co-partition with no extra
    // exchange (guide §2.4; see largeStar)
    val w = graft.Lineage.loopWidth(spark, 2L * math.max(eCount, 1L), 16)
    var changed = eCount > 0
    var it = 0
    while (changed && it < maxIter) {
      val und = roundUnd(e, w)
      val next = smallStar(largeStar(und, w), w).transform(graft.Lineage.cut)
      graft.Lineage.free(und)
      val nextCount = next.count()
      changed = nextCount != eCount || next.except(e).count() > 0
      freeCheckpoint(e)
      e = next
      eCount = nextCount
      it += 1
    }
    // loud, not wrong: partial convergence would silently split one
    // true component into several clusters
    require(!changed,
      s"connected components did not converge in $maxIter rounds")
    val labels = nodes.select(col("id"))
      .join(e.groupBy("u").agg(min(col("v")).as("root"))
        .select(col("u").as("id"), col("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("label"))
    (labels, it)
  }

  /** Min-label propagation twin (each node takes the min of its own
    * and its neighbors' labels per round; O(component diameter)
    * rounds) — kept for the round-count comparison spec and as the
    * marginally-cheaper plan for known-shallow graphs. Returns
    * (labels, rounds).
    */
  private[ops] def ccLabelPropagation(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 20): (DataFrame, Int) = {
    val und = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .transform(graft.Lineage.cut)
    var labels = nodes.select(col("id"), col("id").as("label")).transform(graft.Lineage.cut)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val prop = und.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
      val next = labels.unionByName(prop)
        .groupBy("id").agg(min(col("label")).as("label"))
        .transform(graft.Lineage.cut)
      changed = next.as("n").join(labels.as("o"), "id")
        .filter(col("n.label") =!= col("o.label")).count()
      // the changed-count above was the prior level's LAST reader:
      // free its blocks now, or every iteration's checkpoint stays
      // cached until the session ends — executor-memory creep
      // proportional to iterations in a long-running app (measured as
      // monotone 4.3→6.1s run-over-run drift of dedup_clusters within
      // one bench JVM)
      freeCheckpoint(labels)
      labels = next
      it += 1
    }
    freeCheckpoint(und) // loop done: nothing re-reads the edge list
    require(changed == 0,
      s"connected components did not converge in $maxIter rounds ($changed labels still changing)")
    (labels, it)
  }

  /** Drop a [[graft.Lineage.cut]] frame's persisted blocks once this
    * loop's last reader is done — without this, every iteration's
    * materialization stays cached until the session ends (the round-5
    * bench-drift bug). Safe: cut blocks recompute if ever re-read.
    */
  private def freeCheckpoint(df: DataFrame): Unit = graft.Lineage.free(df)

  /** D4b: TRANSITIVE near-dup clusters — connected components of the
    * exact jaccard >= threshold graph. The per-doc `keep_id` of the
    * pairwise operators is the smallest NEIGHBOR, which is not
    * transitive: a chain A~B~C with A!~C keeps A and C under
    * min-neighbor semantics even though they are the same boilerplate
    * family. Training-data dedup wants one survivor per CLUSTER, which
    * is exactly the component label. Runs on the exact-collapsed rep
    * graph (edges from [[jaccardPairs]]), then maps doc -> rep ->
    * cluster. Returns (doc_id, cluster_id); the dedup action is
    * "keep doc_id == cluster_id".
    *
    * Recall inherits [[jaccardPairs]]'s [[capBuckets]] caveat: a pair
    * whose only shared prefix shingle appears in more than `maxBucket`
    * DISTINCT unique sets is dropped, so a near-boilerplate corpus
    * slice may under-merge components. Raise `maxBucket` when exact
    * transitive closure matters more than the quadratic-bucket skew
    * guard (the default bounds the worst bucket's pair fan-out).
    */
  def dedupClusters(s: SparkSession, dir: String, threshold: Double = 0.5,
      maxBucket: Int = MaxBucket): DataFrame = {
    val c = shingleCorpus(s, dir)
    val edges = jaccardPairs(c.sets, threshold, maxBucket).select("a", "b")
    val labels = connectedComponents(
      c.sets.select(col("doc_id").as("id")), edges)
    // docs without shingles (<3 tokens) have no rep: they are their
    // own singleton cluster
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .join(c.docToRep, Seq("doc_id"), "left")
      .join(labels.select(col("id").as("rep"), col("label")), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** D5: embedding-cosine near-dup — multi-table, multi-probe SRP
    * candidates + exact-cosine verification.
    *
    * Candidate generation is the [[Similarity.srpTableBuckets]]
    * machinery (native no-shuffle signatures): `tables` independent
    * `planes`-bit signatures per vector; the probe side explodes every
    * bucket into its Hamming-ball of radius `probeRadius`, so a pair
    * is a candidate iff its signatures differ by <= probeRadius bits
    * in SOME table. Recall argument (the single-16-plane-exact-bucket
    * design this replaced had none: a cos 0.9 pair agreed on all 16
    * signs only ~79% of the time): per-bit collision probability for
    * a pair at angle θ is p = 1 - θ/π; at cos = 0.9 (θ ≈ 0.4510),
    * p ≈ 0.8564, so one table of 12 bits catches Hamming<=1 with
    * p^12 + 12·p^11(1-p) ≈ 0.47 and MISSING all 8 tables happens with
    * (1-0.47)^8 ≈ 0.006 — expected recall ≈ 0.994 at the threshold
    * itself, higher above it (spec-pinned >= 0.95 on a corpus with
    * planted near-dup pairs). Exact verification keeps precision 1.
    *
    * Scale shape: signatures are narrow; the probe fan-out is
    * ×(1 + planes) rows on the probe side only; [[capBuckets]] bounds
    * degenerate buckets; vectors are joined back by id for the exact
    * verify, so they never travel through the bucket join.
    */
  def dedupEmbed(s: SparkSession, dir: String, threshold: Double = 0.9): DataFrame =
    dedupEmbedOn(
      Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      threshold)

  /** [[dedupEmbed]] on an arbitrary (vec_id, embedding) frame — the
    * seam the planted-near-dup recall spec drives.
    *
    * EXACT-COLLAPSE front-end (round 8 — the sf10 sweep found this
    * family member missing it): the pair scan runs on UNIQUE payloads
    * only. On a dup-heavy corpus (the web-crawl shape: sf10 carries
    * 100 identical copies of every payload) the uncollapsed scan
    * emits every intra-payload copy pair through every table and
    * probe — ~10⁹ candidate rows before `distinct()` at sf10, an
    * OOM-spill shuffle — while the collapsed scan's candidate count
    * depends only on UNIQUE content. The keep rule is unchanged
    * because identical copies are mutual near-dups (cos = 1): v's
    * smallest neighbor is least(own-group min, min over near-payload
    * group minima), so computing group-min near-dup links on
    * representatives and broadcasting them back through the
    * membership join reproduces the uncollapsed answer row-for-row
    * (the DuckDB oracle has ALWAYS been this collapsed formulation —
    * uniq/cmins/least(gmin, cmin)).
    */
  def dedupEmbedOn(emb: DataFrame, threshold: Double = 0.9, tables: Int = 8,
      planes: Int = 12, probeRadius: Int = 1): DataFrame = {
    // DIGEST-KEYED collapse (round 9): the groupBy and the map-back
    // join key on a 128-bit payload digest, not the raw vector — at
    // 100 TB the old payload-keyed shape shuffled multi-KB arrays as
    // join keys TWICE; now the groupBy moves each payload once as a
    // VALUE under a 16-byte key and the map-back join carries only
    // (vec_id, gid). Same acceptance as D1's digest keying (payload
    // equality ⇒ digest equality; 128-bit collision ignored), and
    // null-safe where the payload EqualTo join was not: xxhash64 of a
    // null embedding is a deterministic value, so null rows group and
    // map back exactly like the oracle's IS NOT DISTINCT FROM.
    // cut: the groups feed the rep corpus AND the membership join
    val groups = emb.withColumn("gid", payloadGid(col("embedding")))
      .groupBy("gid").agg(min(col("vec_id")).as("gmin"),
        first(col("embedding")).as("embedding"))
      .transform(graft.Lineage.cut)
    val reps = groups.select(col("gmin").as("vec_id"), col("embedding"))
    // checkpointed: the symmetric union below consumes pairs TWICE —
    // without materialization the candidate join + exact-cosine verify
    // subtree runs once per side (the prefix-postings lesson above)
    val pairs = embedPairs(reps, threshold, tables, planes, probeRadius)
      .transform(graft.Lineage.cut)
    val neighborMin = pairs.select(col("a").as("gmin"), col("b").as("nbr"))
      .unionByName(pairs.select(col("b").as("gmin"), col("a").as("nbr")))
      .groupBy("gmin").agg(min(col("nbr")).as("cmin"))
    val repKeep = groups.select(col("gid"), col("gmin"))
      .join(neighborMin, Seq("gmin"), "left")
      .select(col("gid"),
        least(coalesce(col("cmin"), col("gmin")), col("gmin")).as("keep_id"))
    emb.select(col("vec_id"), payloadGid(col("embedding")).as("gid"))
      .join(repKeep, Seq("gid"))
      .select(col("vec_id"), col("keep_id"))
      .orderBy("vec_id")
  }

  /** 128-bit content digest of an embedding payload — the collapse /
    * membership key for the embedding near-dup family (two
    * independently-seeded xxhash64s over the array; 16-byte shuffle
    * key instead of a multi-KB vector, the D1-digest argument).
    * Null-tolerant: a null payload digests to a fixed value, so
    * null rows survive digest-keyed joins the way they survive a
    * groupBy (and DuckDB's IS NOT DISTINCT FROM).
    */
  private[graft] def payloadGid(c: Column): Column =
    struct(xxhash64(c).as("h1"),
      xxhash64(lit(0x517cc1b727220a95L), c).as("h2"))

  /** Hamming-ball flip masks for SRP multi-probe: every XOR mask with
    * ≤ `probeRadius` of the low `planes` bits set. The ONE definition
    * of the probe ball — the pair scan, the incremental history probe
    * and the streaming index's partition-prune group math
    * ([[graft.streaming.EmbedStreams]]) must all agree on it.
    */
  private[graft] def flipMasks(planes: Int, probeRadius: Int): Seq[Long] =
    (0 to probeRadius).flatMap(r =>
      (0 until planes).combinations(r)
        .map(_.foldLeft(0L)((m, p) => m | (1L << p))).toSeq)

  /** D5c: INCREMENTAL embedding near-dup — dedup a new batch of
    * vectors against the already-admitted corpus, the continuous-feed
    * twin of [[dedupEmbedOn]] and the embedding analog of the D1b
    * digest rule: a batch vector with a history neighbor at
    * cosine ≥ threshold is dropped (its near-dup is already in the
    * corpus); the history-clean remainder collapses within-batch by
    * the house min-id keep rule. Returns the surviving batch vec_ids.
    *
    * `splitId` models the history/batch boundary on the test corpus; a
    * deployment passes its persistent index ([[newVectorsAgainstHistory]]
    * — the seam the streaming twin
    * [[graft.streaming.EmbedStreams.dedupStream]] shares, so batch and
    * stream cannot drift).
    */
  def dedupEmbedIncremental(s: SparkSession, dir: String,
      splitId: Long = 250L, threshold: Double = 0.9): DataFrame = {
    val emb = Tables.spread(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))
    val hist = emb.filter(col("vec_id") < splitId)
    val batch = emb.filter(col("vec_id") >= splitId)
    val histSigs = Similarity.srpTableBuckets(hist, "vec_id", "embedding",
      embedPlanes, embedTables)
    newVectorsAgainstHistory(batch, histSigs, hist, threshold)
      .select(col("vec_id"))
      .orderBy("vec_id")
  }

  /** The embedding near-dup family's shared SRP dials (also the
    * streaming twin's, so its persistent index stays probe-compatible
    * with the batch rule).
    */
  private[graft] val embedTables = 8
  private[graft] val embedPlanes = 12

  /** The batch-vs-history survivor rule for VECTORS, shared by
    * [[dedupEmbedIncremental]] and the streaming twin: batch
    * signatures probe the history signature index (flip-mask
    * multi-probe on the batch side — the history is bucketed once and
    * never re-signed), candidates are exact-cosine verified against
    * the history vectors, hits are dropped, and the clean remainder
    * runs the [[embedPairs]] within-batch collapse (a vector survives
    * iff no SMALLER clean batch vector is a near-dup). History text
    * is never rescanned: `histSigs` (vec_id, tbl, bucket) is the
    * persistent index a deployment materializes once and appends to;
    * `histVecs` joins in only for candidate verification — at 100 TB
    * both stay on disk and only candidate rows move.
    */
  private[graft] def newVectorsAgainstHistory(batch: DataFrame,
      histSigs: DataFrame, histVecs: DataFrame, threshold: Double,
      tables: Int = embedTables, planes: Int = embedPlanes,
      probeRadius: Int = 1): DataFrame = {
    // exact-collapse front-end (the dedupEmbedOn round-8 fix): all
    // probing/verification runs on the batch's unique payloads —
    // identical copies of a history-hit payload are all history-dups
    // (cos = 1 through the rep), and non-minimal copies of a clean
    // payload are always dominated by their group min, so the
    // survivor set is exactly the surviving reps either way
    // digest-keyed collapse (round 9, like dedupEmbedOn): 16-byte
    // groupBy key; each payload crosses the collapse shuffle once as
    // a value. No map-back join here — only reps can survive.
    val bu = batch.withColumn("gid", payloadGid(col("embedding")))
      .groupBy("gid").agg(min(col("vec_id")).as("vec_id"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"))
      .transform(graft.Lineage.cut)
    // cut: probes AND the within-batch pair scan both read the batch
    // signature projection
    val bsigs = Similarity.srpTableBuckets(bu, "vec_id", "embedding",
      planes, tables).transform(graft.Lineage.cut)
    val flips = flipMasks(planes, probeRadius)
    val probes = bsigs.withColumn("bucket", explode(array(
      flips.map(f => col("bucket").bitwiseXOR(lit(f))): _*)))
    val candHist = probes.as("x")
      .join(capBuckets(histSigs, Seq("tbl", "bucket")).as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket"))
      .select(col("x.vec_id").as("b"), col("y.vec_id").as("h"))
      .distinct()
    val histDup = candHist
      .join(bu.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .join(histVecs.select(col("vec_id").as("h"), col("embedding").as("eh")), "h")
      .filter(graft.functions.cosine(col("eb"), col("eh")) >= threshold)
      .select(col("b").as("vec_id")).distinct()
    val clean = bu.join(histDup, Seq("vec_id"), "left_anti")
      .transform(graft.Lineage.cut) // feeds both embedPairs sides + output
    // within-batch: pairs are (a < b), so the dominated side is b
    val dominated = embedPairs(clean, threshold, tables, planes, probeRadius)
      .select(col("b").as("vec_id")).distinct()
    clean.join(dominated, Seq("vec_id"), "left_anti")
  }

  /** D5b: semantic dedup (SemDeDup — Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding corpus with the
    * oracle-pinned spherical k-means ([[Similarity.embedKmeansOn]]),
    * then run cosine near-dup WITHIN clusters only — the paper's
    * approximation that makes web-scale semantic dedup tractable
    * (pairwise work is bounded by Σ cluster² instead of n², and here
    * further by the SRP candidate generator, whose buckets become
    * (table, bucket, cluster)-scoped).
    *
    * Output: one row per vector, `(vec_id, pid, keep_id)` — `pid` the
    * cluster, `keep_id` the smallest vec_id among the vector's
    * same-cluster cosine-≥-threshold neighbors (itself if none), the
    * house near-dup keep rule. Cross-cluster near-dups are
    * deliberately NOT collapsed — that is SemDeDup's contract, pinned
    * by spec.
    *
    * Fully DuckDB-oracled: the assignment composes the bit-exact
    * unrolled-Lloyd CTEs ([[Similarity.KmeansCtes]]) and the pair scan
    * is payload-collapsed like `dedup_embed`'s (identical vectors
    * share an assignment — it is a pure function of the payload — so
    * cluster scoping preserves the collapse argument verbatim).
    *
    * Scale: assignment is a narrow k-fold projection (no shuffle),
    * scoping adds ONE keyed join of the assignment into the signature
    * table, and everything downstream is the capped-bucket near-dup
    * machinery. At 100 TB the assignment join is broadcast-free
    * (both sides keyed by vec_id) and cluster count k just widens the
    * bucket keyspace — MORE selective buckets, not less.
    */
  def dedupSemantic(s: SparkSession, dir: String, threshold: Double = 0.9,
      k: Int = 8, iters: Int = 1, init: String = "hash"): DataFrame =
    dedupSemanticOn(
      Tables.spread(Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))),
      threshold, k, iters, init = init)

  /** [[dedupSemantic]] on an arbitrary (vec_id, embedding) frame — the
    * seam the crafted-corpus specs drive. `init` feeds the k-means
    * stage ("hash" = the oracle-pinned bootstrap, "parallel" =
    * k-means‖ — the production clustering a real SemDeDup run wants).
    * `sorted`: the oracle harness wants a deterministic row order; a
    * 100 TB caller should pass false — the keep-decision is complete
    * without the global sort of the full per-vector assignment.
    */
  def dedupSemanticOn(emb: DataFrame, threshold: Double = 0.9, k: Int = 8,
      iters: Int = 1, tables: Int = 8, planes: Int = 12,
      probeRadius: Int = 1, init: String = "hash",
      sorted: Boolean = true): DataFrame = {
    // cut: consumed three times (the rep-scope join + the final
    // output join); trained on the FULL corpus — copy multiplicity
    // weights the centroid means, so training must not collapse
    val assign = Similarity.embedKmeansOn(emb, k, iters, init = init,
        sorted = false)
      .select(col("vec_id"), col("pid"))
      .transform(graft.Lineage.cut)
    // exact-collapse front-end (the dedupEmbedOn round-8 fix): the
    // scoped pair scan runs on unique payloads; identical copies
    // share the assignment (pure payload function), so scoping
    // commutes with the collapse and the keep rule maps back through
    // the same least(gmin, cmin) composition the oracle uses.
    // Digest-keyed (round 9): groupBy and map-back join on the
    // 128-bit payload gid, payloads move once as values — see
    // [[dedupEmbedOn]] / [[payloadGid]].
    val groups = emb.withColumn("gid", payloadGid(col("embedding")))
      .groupBy("gid").agg(min(col("vec_id")).as("gmin"),
        first(col("embedding")).as("embedding"))
      .transform(graft.Lineage.cut)
    val reps = groups.select(col("gmin").as("vec_id"), col("embedding"))
    val repAssign = assign
      .join(groups.select(col("gmin").as("vec_id")), "vec_id")
    val pairs = embedPairs(reps, threshold, tables, planes, probeRadius,
      scope = Some(repAssign)).transform(graft.Lineage.cut)
    val neighborMin = pairs.select(col("a").as("gmin"), col("b").as("nbr"))
      .unionByName(pairs.select(col("b").as("gmin"), col("a").as("nbr")))
      .groupBy("gmin").agg(min(col("nbr")).as("cmin"))
    val repKeep = groups.select(col("gid"), col("gmin"))
      .join(neighborMin, Seq("gmin"), "left")
      .select(col("gid"),
        least(coalesce(col("cmin"), col("gmin")), col("gmin")).as("keep_id"))
    val out = emb.select(col("vec_id"), payloadGid(col("embedding")).as("gid"))
      .join(assign, Seq("vec_id"))
      .join(repKeep, Seq("gid"))
      .select(col("vec_id"), col("pid"), col("keep_id"))
    if (sorted) out.orderBy("vec_id") else out
  }

  /** Exact-cosine-verified near-dup pairs (a < b) from the multi-table
    * multi-probe SRP candidate generator.
    *
    * `scope`: optional `(vec_id, pid)` cluster assignment. When given,
    * the label joins INTO the signature table and becomes part of the
    * bucket key, so candidates are generated per (table, bucket,
    * cluster) — cross-cluster pairs never exist, and the skew cap
    * bounds each cluster-scoped bucket. This is the SemDeDup seam
    * ([[dedupSemanticOn]]).
    */
  private[ops] def embedPairs(emb: DataFrame, threshold: Double, tables: Int = 8,
      planes: Int = 12, probeRadius: Int = 1,
      scope: Option[DataFrame] = None): DataFrame = {
    require(tables >= 1 && planes >= 1 && planes < 63 &&
        probeRadius >= 0 && probeRadius <= planes,
      s"invalid dials: tables=$tables planes=$planes probeRadius=$probeRadius")
    // checkpointed: feeds both sides of the bucket join (and the sig
    // projection, though native and narrow, reads the full vectors)
    val sigs0 = Similarity.srpTableBuckets(emb, "vec_id", "embedding",
      planes, tables)
    val sigs = scope.fold(sigs0)(a => sigs0.join(a, "vec_id"))
      .transform(graft.Lineage.cut)
    val bucketKeys = Seq("tbl", "bucket") ++ scope.map(_ => "pid")
    val indexed = capBuckets(sigs, bucketKeys)
    // Hamming-ball flip masks; one probe direction suffices (the ball
    // relation is symmetric, and the a < b constraint below picks the
    // smaller id as the prober)
    val flips = flipMasks(planes, probeRadius)
    val probes = sigs.withColumn("bucket", explode(array(
      flips.map(f => col("bucket").bitwiseXOR(lit(f))): _*)))
    val baseCond = col("x.tbl") === col("y.tbl") &&
      col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id")
    val cand = probes.as("x").join(indexed.as("y"),
        scope.fold(baseCond)(_ => baseCond && col("x.pid") === col("y.pid")))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .withColumn("cos", graft.functions.cosine(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** D1: exact dedup — group by content digest, keep smallest id.
    * At 100 TB you group on the 128-bit digest, never the raw text.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")

  /** D58: soft dedup — inverse-multiplicity REWEIGHTING instead of
    * removal (SoftDeDup, He et al. ACL 2024; also the DoReMi-family
    * reweighting view of duplication): every copy keeps weight
    * 1/copies, so a page's total training mass is one epoch's worth
    * regardless of how many times the crawl caught it, while hard
    * dedup's all-or-nothing drop loses the (occasionally meaningful)
    * duplication signal entirely. Output: every doc with its exact
    * copy count and 6dp weight — a loader multiplies per-example loss
    * by it.
    *
    * Scale shape: the [[Collapse]] pair — one partial-aggregated
    * group count per digest (a viral page collapses map-side) and the
    * AQE-splittable (doc_id, digest) join-back. Nothing else moves;
    * the weight is a row-local projection on the joined count.
    */
  def dedupSoft(s: SparkSession, dir: String): DataFrame = {
    val proj = Tables.load(s, dir, "documents")
      .select(col("doc_id"), Collapse.textKey(col("text")).as("tkey"))
    val reps = Collapse.reps(proj, "tkey", countAs = Some("copies"))
    Collapse.docToRep(proj, reps, "tkey", extra = Seq("copies"))
      .select(col("doc_id"), col("copies"),
        round(lit(1.0) / col("copies"), 6).as("weight"))
      .orderBy("doc_id")
  }

  /** D40: normalization-canonical exact dedup — the CCNet recipe
    * (Wenzek et al. 2020 §3.1 deduplicate on NORMALIZED content:
    * lowercase, digits→0, punctuation stripped) applied at document
    * granularity: two pages differing only in case, numbers,
    * punctuation or whitespace runs are the same page for curation
    * purposes, and raw-exact dedup (D1) misses them while near-dup
    * (D2-D4) pays pairwise machinery for what is really an exact
    * match under a canonical key. Normalization here is the
    * deterministic cross-engine subset: lowercase, `[0-9]`→`0`, ASCII
    * punctuation removed, whitespace runs collapsed, ends trimmed.
    * Output per canonical group: keep_id = min doc_id, copy count,
    * and the number of DISTINCT RAW variants the key merged
    * (n_raw_variants > 1 is exactly the population D1 misses).
    *
    * Scale shape: identical to [[dedupExact]] — normalization is a
    * row-local projection, the group key is a 128-bit digest, and
    * both aggregates (count, distinct-raw count via a two-phase
    * partial agg on (norm, raw) digests) collapse hot keys map-side.
    * Raw text never crosses the exchange.
    */
  def dedupNormalized(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(regexp_replace(
      lower(col("text")), "[0-9]", "0"), "[!-/:-@\\[-`{-~]", ""),
      "\\s+", " "))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        md5(norm.cast("binary")).as("digest"),
        md5(col("text").cast("binary")).as("raw_digest"))
      .groupBy("digest")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(col("raw_digest")).as("n_raw_variants"))
      .select(col("keep_id"), col("n_copies"), col("n_raw_variants"))
      .orderBy("keep_id")
  }

  /** D48: cross-source duplicate-leakage audit — for every unordered
    * source pair, how many DISTINCT texts appear in both (plus each
    * source's own distinct-text count and the pair's Jaccard overlap,
    * zero-overlap pairs preserved). The corpus-composition companion
    * of exact dedup: a high leak count between a curated source and a
    * crawl source means the curated set is already inside the crawl —
    * the mixture weights (D39) double-count it, and a train/eval
    * split along source lines (the common shortcut) silently leaks.
    *
    * Scale shape — the [[Dedup.dedupExact]] and D43 tricks composed,
    * no pairwise join on content anywhere:
    *  1. distinct (digest, source): a two-phase partial aggregation —
    *     a viral doc collapses map-side, and only the 128-bit digest
    *     (never the text) crosses the exchange;
    *  2. per-digest source SET: aggregation state bounded by the
    *     source catalog, never by copy count;
    *  3. the C(s,2) pair rows explode ROW-LOCALLY from each digest's
    *     set (a text in every source costs C(s,2) rows once — not a
    *     |docs|² self-join on the digest key) and count-aggregate;
    *  4. the all-pairs frame is catalog-sized (sources², broadcast),
    *     so absent pairs surface with shared_groups = 0.
    */
  def dedupSourceLeakage(s: SparkSession, dir: String): DataFrame = {
    val ds = Tables.load(s, dir, "documents")
      .select(Collapse.textKey(col("text")).as("tkey"), col("source"))
      .distinct()
      // feeds both the per-source counts and the per-digest sets
      .transform(graft.Lineage.cut)
    val perSource = ds.groupBy("source").agg(count(lit(1)).as("g"))
    val shared = ds.groupBy("tkey")
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(flatten(transform(col("srcs"), (a, i) =>
        transform(slice(col("srcs"), i + 2, size(col("srcs"))), b =>
          struct(a.as("source_a"), b.as("source_b")))))).as("p"))
      .groupBy(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("shared_groups"))
    val allPairs = perSource.as("a")
      .crossJoin(broadcast(perSource.as("b")))
      .filter(col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.g").as("groups_a"), col("b.g").as("groups_b"))
    val sh = coalesce(col("shared_groups"), lit(0L))
    allPairs.join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), sh.as("shared_groups"),
        col("groups_a"), col("groups_b"),
        round(sh.cast("double") / (col("groups_a") + col("groups_b") - sh), 6)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** D1b: INCREMENTAL exact dedup — dedup a new batch against the
    * already-ingested corpus, the shape a continuously-fed pipeline
    * actually runs (daily crawl vs. full history): history
    * contributes only its DISTINCT digest set (the persistent index a
    * deployment materializes once and appends to — the raw historical
    * text is never rescanned, let alone reshuffled), the batch
    * anti-joins it on the digest, and within-batch dups collapse to
    * their first member. Returns the batch doc_ids that survive.
    *
    * `splitId` models the history/batch boundary on the test corpus;
    * a deployment passes an actual digest table for `hist`.
    */
  def dedupIncremental(s: SparkSession, dir: String, splitId: Long = 250L): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val digest = md5(col("text").cast("binary"))
    val hist = docs.filter(col("doc_id") < splitId)
      .select(digest.as("tkey")).distinct()
    newAgainstHistory(
      docs.filter(col("doc_id") >= splitId)
        .select(col("doc_id"), digest.as("tkey")), hist)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** Within-batch keep-first on the [[Collapse]] seam: one row per
    * distinct `tkey` — the smallest-`doc_id` row, passthrough columns
    * riding via `min_by` from the same row. This is the de-windowed
    * replacement for `row_number() OVER (PARTITION BY tkey)`: a batch
    * is NOT small at 100 TB (an incremental run admits a whole crawl
    * snapshot, carrying millions of copies of a boilerplate page, all
    * landing in ONE unsplittable WindowExec task), while the groupBy
    * form collapses a viral key to one row per map task before the
    * exchange. Column order of the input is preserved.
    */
  private def keepFirstPerKey(rows: DataFrame): DataFrame = {
    val payloads = rows.columns.filterNot(c => c == "doc_id" || c == "tkey").toSeq
    Collapse.reps(rows, "tkey", payloads = payloads)
      .withColumnRenamed("rep", "doc_id")
      .select(rows.columns.map(col).toSeq: _*)
  }

  /** The batch-vs-history survivor rule, shared by [[dedupIncremental]]
    * and the streaming twin ([[graft.streaming.TextStreams.dedupStream]])
    * so the two cannot drift: keep the smallest-`doc_id` row per key
    * ([[keepFirstPerKey]] — the skew-proof Collapse form, never a
    * digest-keyed window), then drop keys present in history.
    *
    * ORDER MATTERS FOR SKEW, not for the answer: the two steps
    * commute (keep-first picks min-doc_id per key; the anti-join
    * drops whole keys), but collapsing FIRST means the viral key is
    * reduced to ONE row by map-side partial aggregation BEFORE any
    * exchange — the anti-join then joins two sets that are both
    * UNIQUE on tkey, so no join partition can ever exceed the
    * distinct-key volume. Anti-joining first (the round-12a draft)
    * shuffled every raw batch row on tkey into the join: 2e7 copies
    * of one boilerplate page = one 2e7-row sort task that AQE's skew
    * split did not break up (measured in the viral-batch probe).
    * `batch` needs (doc_id, tkey, …passthrough); `hist` needs (tkey).
    */
  private[graft] def newAgainstHistory(batch: DataFrame, hist: DataFrame): DataFrame =
    keepFirstPerKey(batch)
      .join(hist.select("tkey"), Seq("tkey"), "left_anti")
      .select(batch.columns.map(col).toSeq: _*)

  /** D1c: Bloom-prefiltered incremental exact dedup — the SAME answer
    * as [[dedupIncremental]] by construction, through the membership
    * structure that actually ships at 100 TB. The history digest set
    * is summarized into a Bloom filter ([[graft.functions.BloomBuildAgg]]
    * — a mergeable map-side partial aggregate whose shuffle carries
    * one fixed-size word buffer per partition, never the keys),
    * broadcast as one row, and probed row-locally on the batch via the
    * native codegen'd [[graft.functions.BloomMightContain]]. Rows the
    * filter rejects are DEFINITELY new (Bloom filters have zero false
    * negatives) and skip the history join entirely; only the
    * maybe-present slice — true dups plus the (1−e^(−kn/m))^k false
    * positives — pays the exact anti-join, so the prefilter changes
    * the JOIN'S INPUT SIZE, never the answer.
    *
    * Why it matters at scale: a billion-key history digest set is
    * ~37 GB of md5s (unbroadcastable — the anti-join shuffles the
    * entire batch against it), while its 1%-FP Bloom filter is
    * ~1.2 GB — broadcastable, turning the common case (a mostly-novel
    * batch) into a narrow map-side scan with only the ~dup fraction
    * shuffling. The test-scale default (2^16 bits) keeps specs fast;
    * size m ≈ −n·ln(p)/(ln 2)² for real n.
    */
  def dedupIncrementalBloom(s: SparkSession, dir: String,
      splitId: Long = 250L, numBits: Int = 1 << 16,
      numHashes: Int = 4): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val digest = md5(col("text").cast("binary"))
    // cached: feeds the filter build AND the exact-verify anti-join
    val hist = docs.filter(col("doc_id") < splitId)
      .select(digest.as("tkey")).distinct()
      .cache()
    newAgainstHistoryBloom(
      docs.filter(col("doc_id") >= splitId)
        .select(col("doc_id"), digest.as("tkey")),
      hist, numBits, numHashes)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** [[newAgainstHistory]] behind the Bloom prefilter — the D1c core
    * as a shared seam, so the batch operator and the streaming twin
    * ([[graft.streaming.TextStreams.dedupStream]] with `bloomBits`
    * set) run the IDENTICAL survivor rule (round 7: previously the
    * scaladoc claimed the filter "slots in front of the same anti-join
    * unchanged" — now it is the same code). Answer-preserving by
    * construction: the filter has zero false negatives, rows it
    * rejects are definitely new and skip the history join; the maybe
    * slice is exactly-verified. `batch` needs (doc_id, tkey,
    * …passthrough); `hist` needs (tkey) and should be cached by the
    * caller when it feeds both the build and the verify.
    */
  private[graft] def newAgainstHistoryBloom(batch: DataFrame, hist: DataFrame,
      numBits: Int = 1 << 16, numHashes: Int = 4): DataFrame = {
    val bloomAgg = udaf(new graft.functions.BloomBuildAgg(numBits, numHashes))
    val bf = broadcast(hist.agg(bloomAgg(xxhash64(col("tkey"))).as("bf")))
    // collapse FIRST (the newAgainstHistory ordering argument): the
    // Bloom probe and the exact verify then run on one row per
    // distinct key — a viral key reduces map-side before the probe,
    // and the verify anti-join joins two key-unique sets
    val probed = keepFirstPerKey(batch)
      .crossJoin(bf)
      .withColumn("maybe", graft.functions.bloomMightContain(
        col("bf"), xxhash64(col("tkey")), numHashes))
      .drop("bf")
    val fresh = probed.filter(!col("maybe")).drop("maybe")
    val verified = probed.filter(col("maybe")).drop("maybe")
      .join(hist.select("tkey"), Seq("tkey"), "left_anti")
    // BY NAME: the USING anti-join reorders verified to (tkey, …) — a
    // positional union would silently pair doc_id with tkey
    fresh.unionByName(verified)
      .select(batch.columns.map(col).toSeq: _*)
  }

  val queries: Seq[Q] = Seq(
    Q("dedup_exact", dedupExact, Some(
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),
    // the null-text sentinel mirrors Collapse.textKey; 1.0/BIGINT is
    // double division in both engines
    Q("dedup_soft", dedupSoft, Some(
      """WITH g AS (
        |  SELECT doc_id, coalesce(md5(text), '<null-text>') AS k
        |  FROM documents),
        |c AS (SELECT k, CAST(count(*) AS BIGINT) AS copies FROM g GROUP BY k)
        |SELECT doc_id, copies, round(CAST(1 AS DOUBLE) / copies, 6) AS weight
        |FROM g JOIN c USING (k) ORDER BY doc_id""".stripMargin)),
    // the oracle groups by the normalized STRING itself (no digest) —
    // independent of the md5 keying; regexp_replace needs the 'g'
    // flag in DuckDB (Spark replaces all matches by default), and the
    // DISTINCT-raw count casts back to BIGINT
    Q("dedup_normalized", (s, d) => dedupNormalized(s, d), Some(
      raw"""WITH n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      lower(text), '[0-9]', '0', 'g'),
        |      '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_raw_variants
        |FROM n GROUP BY nt ORDER BY keep_id""".stripMargin)),
    // leakage oracle groups on raw TEXT (no digest), pairing with
    // IS NOT DISTINCT FROM so null texts collapse like the engine's
    // null sentinel; zero-overlap pairs preserved via the gs×gs frame
    Q("dedup_source_leakage", (s, d) => dedupSourceLeakage(s, d), Some(
      """WITH dp AS MATERIALIZED (
        |  SELECT DISTINCT text, source FROM documents),
        |gs AS (SELECT source, count(*) AS g FROM dp GROUP BY source),
        |pr AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         count(*) AS shared
        |  FROM dp a JOIN dp b
        |    ON a.text IS NOT DISTINCT FROM b.text AND a.source < b.source
        |  GROUP BY 1, 2),
        |ap AS (
        |  SELECT x.source AS source_a, x.g AS groups_a,
        |         y.source AS source_b, y.g AS groups_b
        |  FROM gs x JOIN gs y ON x.source < y.source)
        |SELECT ap.source_a, ap.source_b,
        |  COALESCE(pr.shared, 0) AS shared_groups,
        |  ap.groups_a, ap.groups_b,
        |  round(CAST(COALESCE(pr.shared, 0) AS DOUBLE)
        |        / (ap.groups_a + ap.groups_b - COALESCE(pr.shared, 0)), 6)
        |    AS jaccard
        |FROM ap LEFT JOIN pr
        |  ON pr.source_a = ap.source_a AND pr.source_b = ap.source_b
        |ORDER BY ap.source_a, ap.source_b""".stripMargin)),
    // the oracle anti-joins on raw TEXT (no digest), independently of
    // the md5 keying
    Q("dedup_incremental", (s, d) => dedupIncremental(s, d), Some(
      """WITH hist AS (
        |  SELECT DISTINCT text FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT b.doc_id, b.text FROM documents b
        |  LEFT JOIN hist h ON b.text = h.text
        |  WHERE b.doc_id >= 250 AND h.text IS NULL),
        |first AS (
        |  SELECT doc_id,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rk
        |  FROM batch)
        |SELECT doc_id FROM first WHERE rk = 1 ORDER BY doc_id""".stripMargin)),
    // the Bloom prefilter is answer-preserving (zero false negatives +
    // exact verify of the maybe slice), so the oracle is the SAME
    // text-keyed recomputation dedup_incremental is pinned by
    Q("dedup_incremental_bloom", (s, d) => dedupIncrementalBloom(s, d), Some(
      """WITH hist AS (
        |  SELECT DISTINCT text FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT b.doc_id, b.text FROM documents b
        |  LEFT JOIN hist h ON b.text = h.text
        |  WHERE b.doc_id >= 250 AND h.text IS NULL),
        |first AS (
        |  SELECT doc_id,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rk
        |  FROM batch)
        |SELECT doc_id FROM first WHERE rk = 1 ORDER BY doc_id""".stripMargin)),
    // HASH-ORACLED since r13: DuckDB re-derives XXH64 (token bytes +
    // chained hashLong shingle ids) and Murmur3 (slot mins + band
    // hashes) bit-for-bit via emulated wrapping arithmetic, then
    // replays banding, cap, verification and the survivor rule — see
    // HashOracles
    Q("dedup_minhash", (s, d) => dedupMinhash(s, d),
      Some(HashOracles.minhashOracle())),
    Q("dedup_simhash", (s, d) => dedupSimhash(s, d),
      Some(HashOracles.simhashOracle())),
    // exact jaccard in DuckDB over string 3-grams: the PPJoin result
    // must equal it exactly (prefix-filter recall is exact; shingle-id
    // collisions are ~d^2/2^65). `common` and the jaccard quotient are
    // small-integer arithmetic, identical in both engines bit-for-bit.
    // Candidate generation is an INVERTED-INDEX self-join (a pair with
    // jaccard > 0 shares a 3-gram, so recall is exactly the all-pairs
    // scan's) rather than the O(n²) cross product the round-6 oracle
    // ran — cost is bounded by true candidate volume, which keeps the
    // oracle runnable at sf0.1+ (the all-pairs form was the reason the
    // two jaccard oracles were sf0.1 skips).
    // Exact-dup TEXT collapse first (identical texts have identical
    // shingle sets, jaccard 1 to each other and equal jaccard to
    // everything else — the same argument the engine's ShingleCorpus
    // rests on, applied independently at the SQL level): pairwise work
    // runs once per unique-text pair, then qualifying pairs expand to
    // doc level. Without it the candidate join explodes quadratically
    // in the dup factor (the sf1 corpus has 10 copies per text = ×100
    // candidate volume; the uncollapsed form ran a DuckDB process to
    // 100 GB before being killed).
    Q("dedup_jaccard", (s, d) => dedupJaccard(s, d), Some(
      raw"""WITH
        |uniq AS MATERIALIZED (
        |  -- members capped at the 51 smallest per text: the final
        |  -- ORDER BY (jaccard DESC, a, b) LIMIT 50 can only surface a
        |  -- pair whose BOTH endpoints are among their text's 51
        |  -- smallest ids (a pair with a later b is outranked by >= 50
        |  -- same-jaccard pairs (a, b') with smaller b' from the same
        |  -- group) — EXACT top-50 cover, and it bounds the member
        |  -- expansion at factor-1000 replication (sf100: 2.5e9 intra
        |  -- rows -> 6.4e6)
        |  SELECT min(doc_id) AS rep, text,
        |         (list_sort(list(doc_id)))[1:51] AS members
        |  FROM documents GROUP BY text),
        |sets AS MATERIALIZED (
        |  SELECT rep, members,
        |         list_distinct(list_transform(
        |           range(1, len(string_split_regex(text, '\s+')) - 1),
        |           i -> string_split_regex(text, '\s+')[i] || ' ' ||
        |                string_split_regex(text, '\s+')[i+1] || ' ' ||
        |                string_split_regex(text, '\s+')[i+2])) AS sh
        |  FROM uniq),
        |good AS MATERIALIZED (SELECT rep, members, sh FROM sets WHERE len(sh) > 0),
        |inv AS MATERIALIZED (SELECT rep, unnest(sh) AS g FROM good),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT x.rep AS a, y.rep AS b
        |  FROM inv x JOIN inv y ON x.g = y.g AND x.rep < y.rep),
        |upairs AS (
        |  SELECT c.a, c.b, len(list_intersect(x.sh, y.sh)) AS common,
        |         len(x.sh) AS na, len(y.sh) AS nb,
        |         x.members AS ma, y.members AS mb
        |  FROM cand c
        |  JOIN good x ON x.rep = c.a
        |  JOIN good y ON y.rep = c.b),
        |inter AS (
        |  SELECT least(m1.d, m2.d) AS a, greatest(m1.d, m2.d) AS b,
        |         p.common, p.common::DOUBLE / (p.na + p.nb - p.common) AS jaccard
        |  FROM (SELECT * FROM upairs
        |        WHERE common::DOUBLE / (na + nb - common) >= 0.5) p,
        |       unnest(p.ma) AS m1(d), unnest(p.mb) AS m2(d)),
        |intra AS (
        |  SELECT m1.d AS a, m2.d AS b, len(g.sh) AS common, 1.0 AS jaccard
        |  FROM good g, unnest(g.members) AS m1(d), unnest(g.members) AS m2(d)
        |  WHERE m1.d < m2.d),
        |pairs AS (SELECT * FROM inter UNION ALL SELECT * FROM intra)
        |SELECT a, b, CAST(common AS BIGINT) AS common, jaccard
        |FROM pairs WHERE jaccard >= 0.5
        |ORDER BY jaccard DESC, a, b LIMIT 50""".stripMargin)),
    // exact oracle: the same transitive closure computed independently —
    // string-3-gram jaccard graph + recursive-CTE reachability with
    // min-label. Edge generation via the same inverted-index candidate
    // join as dedup_jaccard's oracle (recall-exact, candidate-bounded —
    // not the O(n²) cross product), matching the Spark side up to
    // 64-bit shingle-id collisions (p ~ d^2/2^65, immaterial at oracle
    // scale).
    // Same text collapse as dedup_jaccard's oracle: the component
    // graph lives on unique-text reps (identical texts are connected
    // by jaccard-1 edges anyway, so component labels — min doc_id over
    // the component — are unchanged by collapsing them into their rep;
    // docs map back through their text group).
    Q("dedup_clusters", (s, d) => dedupClusters(s, d), Some(
      raw"""WITH RECURSIVE
        |uniq AS MATERIALIZED (SELECT min(doc_id) AS rep, text FROM documents GROUP BY text),
        |sets AS MATERIALIZED (
        |  SELECT rep,
        |         list_distinct(list_transform(
        |           range(1, len(string_split_regex(text, '\s+')) - 1),
        |           i -> string_split_regex(text, '\s+')[i] || ' ' ||
        |                string_split_regex(text, '\s+')[i+1] || ' ' ||
        |                string_split_regex(text, '\s+')[i+2])) AS sh
        |  FROM uniq),
        |good AS MATERIALIZED (SELECT rep, sh FROM sets WHERE len(sh) > 0),
        |inv AS MATERIALIZED (SELECT rep, unnest(sh) AS g FROM good),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT x.rep AS a, y.rep AS b
        |  FROM inv x JOIN inv y ON x.g = y.g AND x.rep < y.rep),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT c.a AS src, c.b AS dst,
        |           len(list_intersect(x.sh, y.sh)) AS inter,
        |           len(x.sh) AS na, len(y.sh) AS nb
        |    FROM cand c
        |    JOIN good x ON x.rep = c.a
        |    JOIN good y ON y.rep = c.b)
        |  WHERE inter::DOUBLE / (na + nb - inter) >= 0.5),
        |und AS MATERIALIZED (
        |  SELECT src, dst FROM edges
        |  UNION ALL
        |  SELECT dst AS src, src AS dst FROM edges),
        |reach(node, label) AS (
        |  SELECT rep, rep FROM good
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN und e ON e.src = r.node),
        |labels AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
        |byrep AS (
        |  SELECT d.doc_id, u.rep FROM documents d
        |  JOIN uniq u ON d.text IS NOT DISTINCT FROM u.text)
        |SELECT d.doc_id, CAST(coalesce(l.cluster, d.doc_id) AS BIGINT) AS cluster_id
        |FROM documents d
        |LEFT JOIN byrep b ON d.doc_id = b.doc_id
        |LEFT JOIN labels l ON b.rep = l.node
        |ORDER BY d.doc_id""".stripMargin)),
    // exact-cosine oracle: the testdata corpus has no pair above the
    // threshold (max pairwise cos < 0.85), so the SRP prefilter is
    // provably recall-1 here and the LSH result must equal the exact
    // O(n^2) answer bit-for-bit.
    // Payload collapse (the jaccard-family trick applied to vectors):
    // identical embeddings have cosine 1 to each other and identical
    // cosine to everything else, so the all-pairs scan runs once per
    // UNIQUE vector and every member of a vector group shares one
    // keep label — min over (own group min, min cross-group qualifying
    // gmin). Per-vector keep_id = least(v's candidates) collapses to
    // that group label because gmin <= v for every member v. Keeps the
    // oracle at unique-vector cost on dup-replicated corpora (sf1:
    // 20k vectors / 2k unique — the uncollapsed form was the sweep's
    // one remaining quadratic skip).
    Q("dedup_embed", (s, d) => dedupEmbed(s, d), Some(
      """WITH
        |uniq AS MATERIALIZED (
        |  SELECT embedding, min(vec_id) AS gmin
        |  FROM embeddings GROUP BY embedding),
        |cmins AS (
        |  SELECT a.gmin AS g, min(b.gmin) AS cmin
        |  FROM uniq a JOIN uniq b
        |    ON a.gmin <> b.gmin
        |   AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])) >= 0.9
        |  GROUP BY a.gmin)
        |SELECT e.vec_id,
        |       CAST(least(u.gmin, coalesce(c.cmin, u.gmin)) AS BIGINT) AS keep_id
        |FROM embeddings e
        |JOIN uniq u ON e.embedding IS NOT DISTINCT FROM u.embedding
        |LEFT JOIN cmins c ON u.gmin = c.g
        |ORDER BY e.vec_id""".stripMargin)),
    // incremental embed oracle, payload-collapsed like dedup_embed's
    // (identical payloads share signatures AND cosines, so only group
    // minima matter): a batch payload with a history payload within
    // the threshold is dropped entirely; of the clean payloads, the
    // batch-min id survives unless a SMALLER clean payload is within
    // the threshold. Non-minimal members of a clean payload are
    // always dominated by their own group min (cos = 1).
    Q("dedup_embed_incremental", (s, d) => dedupEmbedIncremental(s, d), Some(
      """WITH
        |hu AS (
        |  SELECT DISTINCT embedding FROM embeddings WHERE vec_id < 250),
        |bu AS (
        |  SELECT embedding, min(vec_id) AS bmin
        |  FROM embeddings WHERE vec_id >= 250 GROUP BY embedding),
        |hd AS (
        |  SELECT DISTINCT b.bmin FROM bu b JOIN hu h
        |    ON list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |                              CAST(h.embedding AS DOUBLE[])) >= 0.9),
        |clean AS (
        |  SELECT * FROM bu WHERE bmin NOT IN (SELECT bmin FROM hd)),
        |dom AS (
        |  SELECT DISTINCT y.bmin FROM clean x JOIN clean y
        |    ON x.bmin < y.bmin
        |   AND list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |                              CAST(y.embedding AS DOUBLE[])) >= 0.9)
        |SELECT bmin AS vec_id FROM clean
        |WHERE bmin NOT IN (SELECT bmin FROM dom)
        |ORDER BY vec_id""".stripMargin)),
    // SemDeDup composed oracle: the bit-exact unrolled-Lloyd
    // assignment (KmeansCtes, ends at f(vec_id, pid, cos)) + the
    // payload-collapsed pair scan of dedup_embed's oracle with one
    // extra predicate — reps must share a cluster. Collapse stays
    // exact under scoping because the assignment is a pure function of
    // the payload: every member of an identical-vector group carries
    // its rep's pid.
    Q("dedup_semantic", (s, d) => dedupSemantic(s, d), Some(
      s"""WITH ${Similarity.KmeansCtes},
         |uniq AS MATERIALIZED (
         |  SELECT embedding, min(vec_id) AS gmin
         |  FROM embeddings GROUP BY embedding),
         |cmins AS (
         |  SELECT a.gmin AS g, min(b.gmin) AS cmin
         |  FROM uniq a
         |  JOIN uniq b
         |    ON a.gmin <> b.gmin
         |   AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                              CAST(b.embedding AS DOUBLE[])) >= 0.9
         |  JOIN f fa ON fa.vec_id = a.gmin
         |  JOIN f fb ON fb.vec_id = b.gmin AND fb.pid = fa.pid
         |  GROUP BY a.gmin)
         |SELECT e.vec_id, CAST(ff.pid AS INTEGER) AS pid,
         |       CAST(least(u.gmin, coalesce(c.cmin, u.gmin)) AS BIGINT) AS keep_id
         |FROM embeddings e
         |JOIN f ff ON ff.vec_id = e.vec_id
         |JOIN uniq u ON e.embedding IS NOT DISTINCT FROM u.embedding
         |LEFT JOIN cmins c ON u.gmin = c.g
         |ORDER BY e.vec_id""".stripMargin))
  )
}
