package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parameterized deduplication toolkit — every builder takes the document
  * frame as an argument (any frame with an id column and a text column
  * qualifies), so the operators compose over arbitrary inputs; the
  * `graft.ops.Llm` registry entries are thin fixture-bound wrappers.
  *
  * Scale design (100 TB):
  *  - candidate generation is always an equi-join on (band, signature) —
  *    never an O(n²) cross product and never a per-bucket array collect.
  *  - hot buckets (mass-duplicated boilerplate is the NORM in web corpora)
  *    are spread over `salt` reducers by a two-sided (grid) salted
  *    pair-join: each side takes a deterministic id-hash salt on one axis
  *    and replicates only √salt ways on the other, so a bucket of k docs
  *    costs ~k²/salt per task instead of one task holding a k-element array
  *    and emitting k² pairs in-row — at √salt× shuffle volume per side.
  *  - the exact verify step (Jaccard / Hamming) runs only on candidates.
  *
  * Column-name contract: builders emit fixed output schemas (`id`/`h`,
  * `a_id`/`b_id`/`jaccard`/`hamming`, `id`/`component`, `dup_rank`); a
  * caller column with the same name is overwritten. Interior frames persist
  * via [[Caches]] — call `Caches.sweep(spark)` when results are consumed.
  */
object Dedup {

  /** (id, shingle-hash) rows, fully codegen: explode positions, then
    * `substring(text, i, k)` + xxhash64 run inside whole-stage codegen — no
    * interpreted higher-order lambdas, no per-element re-`split`.
    */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    require(k > 0, s"shingle size must be positive, got $k")
    docs
      // guard: Spark's sequence(1, stop) runs DESCENDING for stop < 1, so a
      // doc shorter than k chars would explode into nonsense positions
      .filter(length(col(textCol)) >= k)
      .select(col(idCol).as("id"), col(textCol).as("text"),
        explode(sequence(lit(1), length(col(textCol)) - (k - 1))).as("i"))
      .select(col("id"), xxhash64(expr(s"substring(text, i, $k)")).as("h"))
  }

  /** Ordered candidate pairs (a_id < b_id) from an (id, band, bsig) signature
    * frame via a TWO-SIDED salted self equi-join. With s = ⌈√salt⌉, each row
    * takes a deterministic id-hash salt on its own axis and replicates only
    * s ways across the other axis, so a pair (a, b) meets in exactly one of
    * the s×s (sa, sb) grid blocks: a hot (band, bsig) bucket of k docs
    * spreads over ~salt tasks at ~k²/salt pairs each — same parallelism as a
    * one-sided salt but with each side shuffled s× instead of the right side
    * salt× (8× less shuffle volume at salt=16).
    */
  def saltedBandPairs(sig: DataFrame, salt: Int = 16): DataFrame = {
    val s = math.max(1, math.ceil(math.sqrt(salt.toDouble)).toInt)
    val a = sig.select(col("band").as("a_band"), col("bsig").as("a_bsig"),
        col("id").as("a_id"))
      .withColumn("a_sa", pmod(xxhash64(col("a_id")), lit(s.toLong)).cast("int"))
      .withColumn("a_sb", explode(sequence(lit(0), lit(s - 1))))
    val b = sig.select(col("band").as("b_band"), col("bsig").as("b_bsig"),
        col("id").as("b_id"))
      .withColumn("b_sb", pmod(xxhash64(col("b_id")), lit(s.toLong)).cast("int"))
      .withColumn("b_sa", explode(sequence(lit(0), lit(s - 1))))
    a.join(b,
        col("a_band") === col("b_band") && col("a_bsig") === col("b_bsig") &&
          col("a_sa") === col("b_sa") && col("a_sb") === col("b_sb") &&
          col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** (id, band, bsig) LSH rows from a pre-built [[shingleHashes]] frame via
    * 32-perm MinHash signatures (custom [[graft.functions.MinHashAgg]]: one
    * buffer per doc on the wire, partial+final mergeable).
    */
  def minhashBandSignaturesOf(hs: DataFrame, numBands: Int = 4,
      rowsPerBand: Int = 8): DataFrame = {
    // MinHashAgg emits exactly 32 permutation minima; bands sliced past the
    // signature end would silently hash short/empty slices (degenerate LSH)
    require(numBands > 0 && rowsPerBand > 0 && numBands * rowsPerBand <= 32,
      s"numBands*rowsPerBand must be in 1..32, got $numBands x $rowsPerBand")
    graft.functions.SketchFunctions.register(hs.sparkSession)
    val mh = hs.groupBy("id").agg(expr("minhash_agg(h)").as("mh"))
    val bands = (0 until numBands).map(b =>
      xxhash64(slice(col("mh"), b * rowsPerBand + 1, rowsPerBand), lit(b)).as(s"band$b"))
    mh.select(col("id"), posexplode(array(bands: _*)).as(Seq("band", "bsig")))
  }

  /** (id, band, bsig) LSH rows straight from a document frame. */
  def minhashBandSignatures(docs: DataFrame, idCol: String, textCol: String,
      numBands: Int = 4, rowsPerBand: Int = 8): DataFrame =
    minhashBandSignaturesOf(shingleHashes(docs, idCol, textCol), numBands,
      rowsPerBand)

  /** MinHash-LSH candidate pairs (pre-verify), ordered a_id < b_id. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      salt: Int = 16): DataFrame =
    saltedBandPairs(Caches.cache(minhashBandSignatures(docs, idCol, textCol)),
      salt)

  /** MinHash + LSH near-dup pairs: 5-char shingles → 32-perm MinHash →
    * 4 bands × 8 rows → salted band-bucket equi-join → exact Jaccard verify.
    * Output: (a_id, b_id, jaccard) with jaccard >= `threshold`. Interior
    * frames persist via [[Caches]] — call `Caches.sweep(spark)` when done.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, salt: Int = 16): DataFrame = {
    // the shingle pipeline (explode + substring + xxhash64 over every char
    // position of every doc) is the expensive scan — build it ONCE and share
    // it between the signature stage and the exact-Jaccard verify stage
    val hs = Caches.cache(shingleHashes(docs, idCol, textCol))
    val cand = Caches.cache(
      saltedBandPairs(Caches.cache(minhashBandSignaturesOf(hs)), salt))
    jaccardVerify(cand, hs, "h", threshold)
  }

  /** Exact set-Jaccard verify over candidate pairs — THE shared verify
    * stage of every MinHash-blocked near-dup path (the production xxhash64
    * [[minhashPairs]] and the engine-portable [[md5MinhashPairs]] twin ride
    * this one definition, so their verify semantics cannot drift apart).
    *
    * `cand`: (a_id, b_id) candidate pairs. `elems`: per-doc set elements
    * (id, `keyCol`) — duplicates tolerated (a distinct lands AFTER the
    * candidate restriction, where the frame is smallest). Output:
    * (a_id, b_id, jaccard) with round-4 Jaccard >= `threshold` over the
    * DISTINCT element sets.
    *
    * Scale shape: the candidate-id filter is a semi-join (the planner
    * broadcasts it when small, shuffles it when a mass-duplication corpus
    * makes it big); per-doc set sizes come from one id-partitioned window
    * over the restricted frame; the pair join touches candidates only —
    * never all-pairs.
    */
  private def jaccardVerify(cand: DataFrame, elems: DataFrame,
      keyCol: String, threshold: Double): DataFrame = {
    val candIds = cand.select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .distinct()
    val candSh = Caches.cache(elems.join(candIds, Seq("id"), "left_semi")
      .distinct()
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy("id"))))
    cand
      .join(candSh.select(col("id").as("a_id"), col(keyCol), col("n_sh").as("a_n")),
        "a_id")
      .join(candSh.select(col("id").as("d2"), col(keyCol).as("k2"),
        col("n_sh").as("b_n")),
        col("b_id") === col("d2") && col(keyCol) === col("k2"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("common"), first(col("a_n")).as("a_n"),
        first(col("b_n")).as("b_n"))
      .select(col("a_id"), col("b_id"),
        round(col("common").cast("double") /
          (col("a_n") + col("b_n") - col("common")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: 64-bit majority-vote signature (custom
    * [[graft.functions.SimHashAgg]]), 4×16-bit band blocking via the salted
    * pair-join, exact Hamming <= `maxHamming` verify.
    * Output: (a_id, b_id, hamming).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 4, salt: Int = 16): DataFrame = {
    graft.functions.SketchFunctions.register(docs.sparkSession)
    val h = docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val sig = Caches.cache(h.groupBy("id").agg(expr("simhash_agg(h)").as("bits")))
    val bands = (0 until 4).map(b =>
      xxhash64(slice(col("bits"), b * 16 + 1, 16), lit(b)).as(s"band$b"))
    val withBands = sig.select(col("id"),
      posexplode(array(bands: _*)).as(Seq("band", "bsig")))
    val cand = saltedBandPairs(withBands, salt)
    graft.functions.VectorFunctions.register(docs.sparkSession)
    cand
      .join(sig.select(col("id").as("a_id"), col("bits").as("a_bits")), "a_id")
      .join(sig.select(col("id").as("b_id"), col("bits").as("b_bits")), "b_id")
      // codegen'd BitsHamming — the interpreted zip_with/aggregate lambda
      // chain was the one non-codegen fragment in this verify path
      .select(col("a_id"), col("b_id"), expr("bits_hamming(a_bits, b_bits)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Word n-gram Jaccard near-dup via inverted shingle index. Stop-shingles
    * (df > `maxDf`) are dropped before pairing — the guard against the
    * quadratic hot-shingle blowup at corpus scale. Output:
    * (a_id, b_id, common, jaccard) with jaccard >= `threshold`.
    */
  /** Raw (id, g) word-n-gram xxhash64 rows, one per POSITION (duplicates
    * kept). The token array is materialized ONCE, then positions explode —
    * slice + concat_ws + xxhash64 all run codegen'd (the naive
    * transform-lambda re-splits the text per n-gram: O(tokens²) per doc).
    * Use this form when the consumer runs its own aggregation/distinct on a
    * different key (e.g. gram-only), so the per-doc dedup shuffle isn't
    * paid twice.
    */
  def wordGramsRaw(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    wordGramStrings(docs, idCol, textCol, n)
      .select(col("id"), xxhash64(col("g")).as("g"))

  /** Raw (id, g) word-n-gram STRING rows, one per position (duplicates
    * kept) — the single definition of the gram space every n-gram operator
    * keys on; [[wordGramsRaw]] layers the xxhash64 key on top. The token
    * array is materialized once, then positions explode — slice + concat_ws
    * run codegen'd (a naive transform-lambda re-splits the text per n-gram:
    * O(tokens²) per doc).
    */
  def wordGramStrings(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"n-gram size must be positive, got $n")
    docs
      .withColumn("toks", split(col(textCol), " "))
      // guard: sequence(1, stop) runs DESCENDING for stop < 1 (docs with
      // fewer than n tokens)
      .filter(size(col("toks")) >= n)
      .select(col(idCol).as("id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("i"))
      .select(col("id"),
        concat_ws(" ", slice(col("toks"), col("i"), lit(n))).as("g"))
  }

  /** Engine-portable MinHash-LSH candidate pairs over word n-grams: each
    * permutation hash is an md5 hex string (fixed-width lowercase hex, so a
    * string MIN is exactly the numeric MIN of the 128-bit hash in any
    * engine with binary collation), and the band signature is md5 over the
    * concatenated per-band minima — every stage reproduces verbatim in
    * DuckDB. This is the METRIC twin of the xxhash64 production path
    * ([[minhashCandidates]]): `llm_minhash_recall` joins it against the
    * exact n-gram-Jaccard truth set, putting LSH candidate recall itself
    * under the cross-engine gate. The scale shape is the production one:
    * per-doc signatures are `perms` MIN-aggregates over the raw gram stream
    * (duplicate-tolerant — MIN ignores repeats — so no distinct shuffle is
    * paid, and the partials combine map-side), then candidates come from
    * the two-sided salted (band, bsig) equi-join.
    */
  def md5MinhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, perms: Int = 16, bands: Int = 4, salt: Int = 16): DataFrame =
    md5MinhashCandidatesOf(md5MinhashSignatures(docs, idCol, textCol, n, perms),
      perms, bands, salt)

  /** [[md5MinhashCandidates]] from a PRE-BUILT [[md5MinhashSignatures]]
    * frame (r17): a consumer that needs BOTH the candidates and the
    * signature columns (llm_minhash_est_err joins the minima back onto
    * every candidate pair) caches the signature frame once and feeds it
    * here, instead of paying the full gram-explode + 16-MIN-aggregate
    * signature pass twice (guide §1.2 "don't compute things you throw
    * away" — the second pass was byte-identical to the first). Banding and
    * salting expressions are unchanged, so candidates are row-identical to
    * the docs-frame entry point.
    */
  def md5MinhashCandidatesOf(sig: DataFrame,
      perms: Int = 16, bands: Int = 4, salt: Int = 16): DataFrame = {
    require(bands > 0 && perms > 0 && perms % bands == 0,
      s"perms must split evenly into bands, got $perms perms / $bands bands")
    val rows = perms / bands
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("|", (b * rows until (b + 1) * rows).map(j => col(s"m$j")): _*))
    }
    saltedBandPairs(
      sig.select(col("id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bsig"))),
      salt)
  }

  /** Per-doc md5-permutation MinHash SIGNATURES — (id, m0..m{perms-1}) with
    * `mj = min over grams of md5(gram || ":j")` (fixed-width lowercase hex:
    * a string MIN is the numeric MIN of the 128-bit hash in any engine with
    * binary collation). The shared signature stage behind
    * [[md5MinhashCandidates]]'s banding AND `llm_minhash_est_err`'s
    * estimate column (matched-minima fraction) — one definition, so the
    * blocking and the estimator cannot drift. Scale shape: `perms`
    * map-side-combinable MIN aggregates over the raw gram stream (MIN
    * ignores duplicates, so no distinct shuffle is paid).
    */
  def md5MinhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, perms: Int = 16): DataFrame = {
    val mins = (0 until perms).map(j =>
      min(md5(concat(col("g"), lit(s":$j")))).as(s"m$j"))
    wordGramStrings(docs, idCol, textCol, n)
      .groupBy("id").agg(mins.head, mins.drop(1): _*)
  }

  /** Engine-portable MinHash near-dup PAIRS: [[md5MinhashCandidates]]
    * blocking + exact word-n-gram Jaccard verify on candidates only —
    * the full candidate→verify near-dup shape of [[minhashPairs]] with
    * every stage reproducible in DuckDB (md5 permutation minima, integer
    * common counts) — with one caveat: the verify stage keys on
    * xxhash64-HASHED grams ([[wordGramsRaw]]), so a ~2⁻⁶⁴-probability gram
    * collision within one doc could shift a count by 1 and flip a round-4
    * Jaccard across the threshold vs an engine comparing gram STRINGS
    * (same caveat as [[ngramJaccardPairs]]; an oracle mismatch here should
    * be diagnosed against it before suspecting logic). Same scale
    * discipline as the production path: the gram frame is built once and
    * shared between blocking and verify, and the verify itself IS
    * [[jaccardVerify]] — the identical stage the xxhash64 path runs.
    * Output: (a_id, b_id, jaccard), round-4 at `threshold` over the
    * DISTINCT gram sets.
    */
  def md5MinhashPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6, perms: Int = 16, bands: Int = 4,
      salt: Int = 16): DataFrame = {
    // RAW (duplicate-keeping) grams: jaccardVerify's contract distincts
    // AFTER the candidate restriction, where the frame is smallest — a
    // pre-distinct here would pay the corpus-wide per-doc dedup shuffle
    // twice for identical results
    val wg = Caches.cache(wordGramsRaw(docs, idCol, textCol, n))
    val cand = Caches.cache(
      md5MinhashCandidates(docs, idCol, textCol, n, perms, bands, salt))
    jaccardVerify(cand, wg, "g", threshold)
  }

  /** Engine-portable SimHash-LSH candidate pairs over whitespace tokens:
    * the 64 signature bits come from per-token md5 hex nibbles (bit b of a
    * token = bit (3 - b%4) of nibble b/4 — fixed-width lowercase hex, so
    * `instr`/`strpos` against '0123456789abcdef' decodes identically in any
    * engine), per-doc majority votes are exact integer sums (tie → 1), and
    * each band signature is the band's 16 bits PACKED into an integer — no
    * engine-private hash anywhere. This is the METRIC twin of the xxhash64
    * production path ([[simhashPairs]]), consumed by `llm_simhash_recall`
    * to put the family's candidate recall under the cross-engine gate, the
    * same role [[md5MinhashCandidates]] plays for MinHash. Scale shape is
    * the production one: one explode of the raw token stream (duplicates
    * vote, as in `SimHashAgg`), 64 map-side-combinable SUM aggregates per
    * doc, then the two-sided salted (band, bsig) equi-join.
    */
  def md5SimhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      salt: Int = 16): DataFrame = {
    val th = docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("t"))
      .select(col("id"), md5(col("t")).as("h"))
    val votes = (0 until 64).map { b =>
      val nib = b / 4 + 1
      val shift = 3 - b % 4
      sum(expr(
        s"CASE WHEN (shiftright(instr('0123456789abcdef', substring(h, $nib, 1)) - 1, $shift) & 1) = 1 THEN 1 ELSE -1 END"))
        .as(s"v$b")
    }
    val sig = th.groupBy("id").agg(votes.head, votes.drop(1): _*)
    val bandCols = (0 until 4).map { k =>
      (0 until 16).map(i =>
          when(col(s"v${16 * k + i}") >= 0, 1 << (15 - i)).otherwise(0))
        .reduce(_ + _)
    }
    saltedBandPairs(
      sig.select(col("id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bsig"))),
      salt)
  }

  /** Distinct (id, g) word-n-gram rows — the shared shingle-SET unit of the
    * n-gram Jaccard index and the decontamination eval side.
    */
  def wordGrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    wordGramsRaw(docs, idCol, textCol, n).distinct()

  /** Exact word-n-gram Jaccard pairs (>= `threshold`) via an inverted
    * shingle index: no LSH, no recall loss from blocking — this IS the
    * truth set the LSH recall metrics are judged against.
    *
    * `maxDf` — the stop-shingle cap — is this path's ONE heuristic: a
    * shingle present in more than `maxDf` docs is dropped from the index
    * before the pair join (such a gram contributes up to df² join rows of
    * near-zero Jaccard evidence: boilerplate). Dropping grams only ever
    * REMOVES common-count mass (per-doc set sizes `n_sh` are computed
    * BEFORE the cap), so the capped pair set is a strict subset of the
    * uncapped one — the loss is pure recall, and it is measured
    * cross-engine by the oracled `llm_ngram_dfcap_recall` key (at a
    * fixture-engaging cap; at sf0.01/maxDf=3 the cap keeps 12 of 25 true
    * pairs, recall 0.48 — the cap is NOT free). SCALING RULE: hold the
    * cap's SELECTIVITY, not its value — grow `maxDf` linearly with the
    * corpus document count (the default 50 ≈ 0.1% of a 50k-doc corpus; at
    * 50M docs use ~50k). A cap held FIXED while the corpus grows 1000×
    * reclassifies every moderately-common phrase as boilerplate and
    * silently shrinks the index — rerun the recall metric at the
    * production cap whenever the corpus jumps an order of magnitude. The
    * flip side is the scale guard: per-gram pair work is bounded by
    * maxDf², so the cap is also what keeps a boilerplate shingle from
    * concentrating a quadratic pair blowup in one task.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6, maxDf: Long = 50): DataFrame = {
    val tri = Caches.cache(wordGrams(docs, idCol, textCol, n))
    val sh = tri.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inv = tri.join(sh, "id").select(col("id"), col("n_sh"), col("g"))
    val hot = inv.groupBy("g").agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
    val cold = inv.join(hot, Seq("g"), "left_anti")
    val a = cold.select(col("g"), col("id").as("a_id"), col("n_sh").as("a_n"))
    val b = cold.select(col("g").as("g2"), col("id").as("b_id"), col("n_sh").as("b_n"))
    a.join(b, col("g") === col("g2") && col("a_id") < col("b_id") &&
        // length-compatibility prune: J = common/(a_n+b_n-common) <=
        // min(a_n,b_n)/max(a_n,b_n), so size-incompatible pairs can never
        // reach the output filter — drop them IN the join (codegen'd
        // predicate) before they inflate the pair aggregate. The output
        // filter admits round(J,4) >= threshold, i.e. true J down to
        // threshold - 5e-5, so prune against (threshold - 1e-4): covers the
        // rounding slack at ANY document length, and the extra 5e-5 margin
        // absorbs fp error in the comparison itself. The +0.5 additionally
        // protects exact integer boundaries. Result-identical to the
        // unpruned join.
        col("a_n") * lit(threshold - 1e-4) <= col("b_n") + lit(0.5) &&
        col("b_n") * lit(threshold - 1e-4) <= col("a_n") + lit(0.5))
      .groupBy("a_id", "b_id", "a_n", "b_n")
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        round(col("common").cast("double") / (col("a_n") + col("b_n") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "common", "jaccard")
  }

  /** Asymmetric n-gram CONTAINMENT pairs — the subset-duplicate detector
    * Jaccard structurally misses: a short document fully quoted inside a
    * long one has `J = |A|/|B|` (arbitrarily small) but containment
    * `C = |A∩B| / min(|A|, |B|) = 1`. Same exact inverted-index shape as
    * [[ngramJaccardPairs]] (word-`n`-grams, df-capped stop-shingles,
    * gram-keyed pair aggregate — never doc×doc) with two deliberate
    * differences: NO length-compatibility prune (asymmetry is the point —
    * any size pair can reach containment 1), and both set sizes emitted so
    * a consumer can tell which side is the contained one
    * (`common == min(a_n, b_n)` ⇒ the smaller doc is a strict gram-subset).
    * Returns (a_id, b_id, a_n, b_n, common, containment) for pairs at or
    * above `threshold` (round-4, the Jaccard builder's float discipline —
    * strictly positive, no signed-zero exposure).
    *
    * Scale shape: the df cap is the only fan-out bound (each surviving
    * gram contributes ≤ C(maxDf, 2) pairs); without the length prune the
    * pair aggregate carries every co-gram pair, so corpus-scale callers
    * tighten `maxDf` or pre-block — the same knob the Jaccard path
    * documents.
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxDf: Long = 50): DataFrame = {
    val tri = Caches.cache(wordGrams(docs, idCol, textCol, n))
    val sh = tri.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inv = tri.join(sh, "id").select(col("id"), col("n_sh"), col("g"))
    val hot = inv.groupBy("g").agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
    val cold = inv.join(hot, Seq("g"), "left_anti")
    val a = cold.select(col("g"), col("id").as("a_id"), col("n_sh").as("a_n"))
    val b = cold.select(col("g").as("g2"), col("id").as("b_id"), col("n_sh").as("b_n"))
    a.join(b, col("g") === col("g2") && col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "a_n", "b_n")
      .agg(count(lit(1)).as("common"))
      .withColumn("containment",
        round(col("common").cast("double") / least(col("a_n"), col("b_n")), 4))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "a_n", "b_n", "common", "containment")
  }

  /** Per-document duplicated-SPAN fraction: of a document's word-`n`-gram
    * POSITIONS (sliding, duplicates kept — spans, not the distinct shingle
    * set), the fraction whose gram also appears in at least one OTHER
    * document. The span-level exact-duplication signal of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"): document
    * near-dup metrics miss a unique page that embeds a long copied passage,
    * while a long-`n` shared gram (default 8 — far past phrase-collision
    * range) is near-certain verbatim copying. Output: (id, n_spans, n_dup,
    * dup_frac, kept = dup_frac <= maxDupFrac); documents with fewer than
    * `n` tokens have no spans and emit no row (same contract as the bigram
    * builders).
    *
    * The reference method builds a corpus suffix array — inherently
    * sequential, single-machine. The Spark-native equivalent marks
    * positions through gram-keyed relational ops only: cross-doc grams are
    * `min(id) != max(id)` groups of the position stream (ONE map-side-
    * combinable hash aggregate — no countDistinct expansion, no distinct
    * pre-shuffle), and marking is a gram-keyed left join back onto the
    * stream (at most one crossDoc row per gram, so no fan-out), followed by
    * one per-doc aggregate. Nothing is ever doc×doc; a boilerplate gram in
    * millions of docs costs its row count, not a quadratic pair blowup.
    * The gram stream is read twice (crossDoc aggregate + mark join) and
    * persists via [[Caches]] — `Caches.sweep(spark)` when consumed; at
    * corpus scale prefer the recompute (two scans of the doc table) over
    * caching a stream `n`× the corpus size.
    */
  def dupSpanFractions(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, maxDupFrac: Double = 0.5): DataFrame = {
    val grams = Caches.cache(wordGramStrings(docs, idCol, textCol, n))
    val crossDoc = grams.groupBy("g")
      .agg(min(col("id")).as("lo"), max(col("id")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .select(col("g"), lit(1).as("xdoc"))
    grams.join(crossDoc, Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans"), count(col("xdoc")).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_spans"))
      .withColumn("kept", col("dup_frac") <= maxDupFrac)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): hash every word-`kGram`-gram, slide a window of
    * `window` consecutive gram hashes over each document, and in every FULL
    * window select the minimum hash, breaking ties toward the RIGHTMOST
    * position (robust winnowing). The selected (position, hash) set — about
    * `2/(window+1)` of the gram stream — is the document's fingerprint:
    * unlike a single content hash ([[exactDupRank]]'s key) it survives
    * local edits, and unlike the full gram set it is sub-linear to store,
    * with the guarantee that any shared run of `window + kGram - 1` tokens
    * between two documents shares at least one fingerprint.
    *
    * Engine-portable by construction: gram hashes are md5 hex strings
    * (fixed-width lowercase hex → lexicographic MIN is the numeric MIN in
    * any binary-collation engine), and the rightmost-tie rule rides the
    * same string MIN — the window minimizes `h || lpad(999999 - pos)`, so
    * equal hashes order by DESCENDING position and the composite min IS
    * the robust-winnowing choice. The encoding bounds documents at 999999
    * tokens (a 999999 - pos below zero would lpad with a sign character
    * and corrupt the tie order) — a documented precondition, same
    * discipline as `Fts.cumulativeWeights`: chunk longer documents first
    * ([[graft.api.Text.chunkStride]]).
    *
    * Scale shape: tokens materialize once, positions explode, and the
    * selection is ONE window pass partitioned by document — a single
    * shuffle on the id, which the closing per-(id, pos) distinct reuses
    * (hash(id) already clusters every distinct key). No join anywhere;
    * per-document work is linear in tokens.
    *
    * Output: (id, n_grams, fp_pos, fp) — one row per selected fingerprint.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      kGram: Int = 4, window: Int = 4): DataFrame = {
    require(kGram > 0 && window > 0,
      s"kGram ($kGram) and window ($window) must be positive")
    val g = docs
      .withColumn("toks", split(col(textCol), " "))
      // a document yields fingerprints only if it has >= 1 FULL window of
      // gram hashes: size >= kGram + window - 1 tokens
      .filter(size(col("toks")) >= kGram + window - 1)
      .select(col(idCol).as("id"), col("toks"),
        (size(col("toks")) - (kGram - 1)).cast("long").as("n_grams"),
        explode(sequence(lit(1), size(col("toks")) - (kGram - 1))).as("pos"))
      .select(col("id"), col("n_grams"), col("pos"),
        md5(concat_ws(" ", slice(col("toks"), col("pos"), lit(kGram)))).as("h"))
    val wSpec = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.currentRow, window - 1)
    g
      .withColumn("ck", concat(col("h"),
        lpad((lit(999999) - col("pos")).cast("string"), 6, "0")))
      .withColumn("wmin", min(col("ck")).over(wSpec))
      // gram positions are dense 1..n_grams, so the ROWS frame covers
      // exactly the window's hashes; keep FULL windows only
      .filter(col("pos") <= col("n_grams") - (window - 1))
      .select(col("id"), col("n_grams"),
        (lit(999999) - substring(col("wmin"), 33, 6).cast("long")).as("fp_pos"),
        substring(col("wmin"), 1, 32).as("fp"))
      .distinct()
  }

  /** Candidate pairs from shared winnowing fingerprints — the MOSS-style
    * blocking step: two documents are candidates iff some selected
    * fingerprint hash appears in both. The join key is the fp hash alone
    * (not the position), so a shared run anywhere in either document
    * matches; the winnowing guarantee makes the blocking principled — any
    * pair sharing `window + kGram - 1` consecutive tokens shares at least
    * one full gram window, whose minimum hash both documents select, so
    * such pairs are NEVER missed. Boilerplate fingerprints are the hot
    * keys, spread by the same two-sided salted grid every candidate path
    * here uses ([[saltedBandPairs]]); pre-distincting (id, fp) keeps a
    * fingerprint selected by several windows from multiplying join rows.
    */
  def winnowCandidates(docs: DataFrame, idCol: String, textCol: String,
      kGram: Int = 4, window: Int = 4, salt: Int = 16): DataFrame =
    saltedBandPairs(
      winnowFingerprints(docs, idCol, textCol, kGram, window)
        .select(col("id"), lit(0).as("band"), col("fp").as("bsig"))
        .distinct(),
      salt)

  /** Exact-dedup rank: 1 for the deterministic survivor (lowest id) of each
    * normalized-key group, 2.. for its duplicates. Hash-partitions on the
    * normalized key — the shuffle unit a 100 TB dedup shuffles on.
    */
  def exactDupRank(docs: DataFrame, idCol: String, key: org.apache.spark.sql.Column): DataFrame =
    docs.withColumn("dup_rank",
      row_number().over(Window.partitionBy(key).orderBy(col(idCol))))

  /** Connected components over an (a_id, b_id) pair frame — the cluster step
    * of corpus dedup (near-dup is transitive only through clustering: A~B,
    * B~C must collapse to ONE survivor even when A!~C directly). Output:
    * (id, component) with component = min id of the cluster; isolated ids
    * never enter the input and are implicitly their own component. A pair
    * with a null endpoint is not an edge (the co-order baskets' rule): it
    * is dropped, so its other endpoint joins no component through it.
    *
    * Algorithm: Shiloach–Vishkin-style hook + pointer-jump. The initial
    * state is already the first hook: one aggregate over the symmetrized
    * edge frame labels every node with the minimum of its own id and its
    * neighbors' ids. Each round then
    *  1. HOOK: every node takes the minimum of its own label and its
    *     neighbors' labels (one shuffle join + min-aggregate over the
    *     symmetrized edge frame), then
    *  2. JUMP: every node follows its label's own label (one self-join of
    *     the hooked frame, whose two sides share the hook's shuffle
    *     stages), halving the remaining label-chain depth.
    * The jump is what makes this O(log n) rounds instead of O(diameter):
    * a 1000-node chain converges in ~10 rounds where pure min-label
    * propagation needs ~1000 (each a full distributed job wave — the
    * difference between seconds and a blown iteration cap at scale).
    *
    * The rounds run on [[Checkpoints.fixedPoint]]: every round's label
    * frame is checkpointed and the superseded round freed, so one
    * generation of labels is materialized at a time (plus the edge frame,
    * freed on exit; the final label frame backs the returned DataFrame).
    * Checkpoints are executor-LOCAL by default; `checkpointDir` makes them
    * RELIABLE, surviving executor loss on a real cluster — a physical
    * choice only (ApiSpec pins reliable == local row-for-row).
    *
    * Convergence is an exact label-sum fixed point ([[Checkpoints.exactSum]]:
    * labels only ever decrease, so an unchanged sum means no label moved),
    * probed once per round — one single-stage fold over the checkpointed
    * label frame, far cheaper than the two joins and the aggregate over
    * the edge frame a round costs. Hitting `maxIter` throws rather than
    * return split clusters.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter, checkpointDir)._1

  /** [[connectedComponents]] plus the number of hook+jump rounds it ran —
    * the observable behind the O(log n) claim. `graft.Stress` records it
    * (rounds ≈ log₂(longest label chain) + the one round that finds no
    * change) and ApiSpec asserts it on a 1000-chain.
    */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val real = pairs.filter(col("a_id").isNotNull && col("b_id").isNotNull)
    val edges = Checkpoints.tracked(
      real.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionAll(real.select(col("b_id").as("src"), col("a_id").as("dst"))),
      checkpointDir)
    // the first hook is the initial state: every node is a src of the
    // symmetrised edges, and its label starts at min(itself, neighbors)
    val (comp, rounds, converged) = Checkpoints.fixedPoint(
        edges.groupBy(col("src"))
          .agg(least(col("src"), min(col("dst"))).as("component"))
          .select(col("src").as("id"), col("component")),
        maxIter, checkpointDir)(Checkpoints.exactSum("component"))(_ == _) { comp =>
      val nbrMin = edges
        .join(comp.select(col("id").as("dst"), col("component").as("nc")), "dst")
        .groupBy("src").agg(min(col("nc")).as("nbr_min"))
      // both sides of the jump read this one subplan, so AQE reuses its
      // shuffle stages: the hook computes once per round without a cache
      val hooked = comp
        .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
      // labels are always ids of nodes in the same component, so the jump
      // stays within the component and only ever decreases labels
      hooked
        .join(hooked.select(col("id").as("pid"), col("component").as("pc")),
          col("component") === col("pid"), "left")
        .select(col("id"), coalesce(col("pc"), col("component")).as("component"))
    }
    Checkpoints.free(edges)
    // an unconverged result silently splits clusters (duplicate survivors
    // downstream); hitting the cap means the label chains outlived
    // 2^maxIter doubling steps — far past any real graph
    if (!converged) {
      Checkpoints.free(comp)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter iterations; " +
          "raise maxIter")
    }
    (comp, rounds)
  }
}
