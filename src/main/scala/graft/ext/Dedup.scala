package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BloomExpressions
import graft.sources.Lake
import graft.sources.Lake.Derived

/** Deduplication operators for a large-scale training-data pipeline,
  * over the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Scale design (the 100 TB rules, SURVEY §7.4.8):
  *  - exact dedup is a hash groupBy on a normalized key — one shuffle;
  *  - near-dup candidate generation is ALWAYS a banded/bucketed
  *    equi-join (shuffle on the band/bucket key), never an all-pairs
  *    crossJoin: candidate volume scales with collisions, not n²;
  *  - similarity verification runs only on candidates.
  *
  * Everything is built from codegen'd built-ins (xxhash64, split,
  * transform, aggregate) — no Scala UDFs in the hot path.
  */
object Dedup {

  private type Q = (SparkSession, String) => DataFrame

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Lake.table(spark, sfDir, "documents")

  /** Normalized exact-dedup key: lowercase, trimmed text. */
  private val normText: Column = lower(trim(col("text")))

  /** Word tokens of `text`. */
  private val tokens: Column = split(col("text"), " ")

  /** Positional k-shingles (k=3) as an array column: for i in
    * [0, n-k], concat(w[i..i+k-1]). Distinct set per document. A doc
    * shorter than k tokens has NO shingles — guarded with an explicit
    * empty-array branch because `sequence(0, -1)` infers step -1 and
    * yields [0, -1], whose transform then evaluates
    * `element_at(tokens, 0)` → INVALID_INDEX_OF_ZERO at runtime.
    */
  private def shingles(k: Int): Column = {
    val grams = transform(
      sequence(lit(0), size(tokens) - k),
      i => concat_ws(" ", (0 until k).map(j => element_at(tokens, i + j + 1)): _*))
    array_distinct(
      when(size(tokens) >= k, grams).otherwise(array().cast("array<string>")))
  }

  /** x03's index shape: 32 hashes in 8 bands of 4 rows. */
  val MinhashNumHashes = 32
  val MinhashBandCount = 8

  /** MinHash signatures: numHashes seeded hash functions; signature
    * element s = min over shingles of xxhash64(shingle, s). Computed
    * as numHashes parallel `min` aggregates over (doc_id, shingle)
    * rows — partial-aggregatable with NO row multiplication (an
    * explode-per-hash variant shuffles numHashes× the rows; this
    * shuffles one compact signature row per doc).
    * Returns (doc_id, sig: array<bigint>).
    */
  def minhashSignatures(df: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(s =>
      min(xxhash64(col("shingle"), lit(s))).as(s"mh_$s"))
    df.select(col("doc_id"), explode(shingles(3)).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(s => col(s"mh_$s")): _*).as("sig"))
  }

  /** Banded LSH buckets: `bands` bands of numHashes/bands signature
    * positions each; the band key is the hash of that slice.
    * Returns (doc_id, band, bsig).
    */
  def minhashBands(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",",
          slice(col("sig"), b * rows + 1, lit(rows)).cast("array<string>")), b)))
        .as(Seq("band", "bsig")))
  }

  /** x03's signature table feeds three plan branches (banding + both
    * verify sides) and its band table both candidate-join sides, so
    * both land in the lake once per dataset (the 100 TB shape) instead
    * of persist(): no executor-memory cache pinned for the session
    * lifetime, and every branch reads one compact parquet table.
    */
  val MinhashSigs: Derived = Derived(s"minhash_sigs_$MinhashNumHashes")((spark, sfDir) =>
    minhashSignatures(docs(spark, sfDir), MinhashNumHashes))

  val MinhashBands: Derived = Derived(s"minhash_bands_${MinhashNumHashes}_$MinhashBandCount")(
    (spark, sfDir) => minhashBands(Lake.materialize(spark, sfDir, MinhashSigs),
      MinhashNumHashes, bands = MinhashBandCount))

  /** Candidate pairs from band collisions: equi-join on (band, bsig),
    * deduplicated. The join key is the bucket — this is the shuffle
    * that replaces the n² comparison.
    *
    * Hot-bucket guard (the banding analog of the shingle
    * document-frequency cap): a bucket of s members yields s² rows in
    * ONE join task, so a degenerate bucket — a duplicate-class of a
    * million near-identical documents all hashing to the same band
    * value — would quadratic a single shuffle partition at corpus
    * scale. Buckets larger than `maxBucket` are dropped from candidate
    * generation; their members agree on a whole signature band, which
    * is exactly the near-identical case EXACT dedup (x01, one linear
    * shuffle) collapses upstream, so the composed pipeline loses no
    * recall it cares about. At the provisioned corpus sizes no bucket
    * reaches the default cap, so registered results are unchanged.
    */
  def minhashCandidates(bandsDf: DataFrame,
      maxBucket: Long = 100000L): DataFrame = {
    val hot = bandsDf.groupBy(col("band"), col("bsig"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucket)
      .select(col("band"), col("bsig"))
    val ok = bandsDf.join(hot, Seq("band", "bsig"), "left_anti")
    val a = ok.select(col("band"), col("bsig"), col("doc_id").as("doc_a"))
    val b = ok.select(col("band"), col("bsig"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "bsig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Estimated Jaccard for candidate pairs = fraction of agreeing
    * minhash positions (zip_with over the two signature arrays).
    */
  def minhashVerify(candidates: DataFrame, sigs: DataFrame,
      numHashes: Int, threshold: Double): DataFrame = {
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    candidates
      .join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") /
          numHashes.toDouble).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** 64-bit SimHash per document from the token multiset: bit b of the
    * fingerprint is the sign of sum over tokens of ±1 according to bit
    * b of xxhash64(token).
    */
  def simhashTable(df: DataFrame): DataFrame = {
    // 64 parallel ±1 vote sums (one partial-aggregatable agg per bit)
    // over (doc, token) rows — no row multiplication, one shuffle of
    // 64 compact counters per doc.
    val votes = (0 until 64).map(b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v_$b"))
    val fingerprint = (0 until 64)
      .map(b => when(col(s"v_$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
      .reduce(_ bitwiseOR _)
    df.select(col("doc_id"), explode(tokens).as("token"))
      .withColumn("th", xxhash64(col("token")))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  /** x04's fingerprint table feeds THREE plan branches (the hot-bucket
    * guard plus both candidate-join sides), so it is a lake table.
    */
  val X04Simhash: Derived = Derived("x04_simhash")((spark, sfDir) =>
    simhashTable(docs(spark, sfDir)))

  /** SimHash near-dup pairs: band the 64 bits into 4 16-bit chunks,
    * bucket-join on any equal chunk, then verify by Hamming distance.
    * Same hot-bucket guard as [[minhashCandidates]] — a degenerate
    * chunk value (e.g. a huge class of near-identical short documents)
    * must not quadratic one shuffle task; exact dedup upstream owns
    * that class at linear cost.
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int,
      maxBucket: Long = 100000L): DataFrame = {
    val chunks = sims.select(col("doc_id"), col("simhash"),
      expr("posexplode(transform(sequence(0, 3), " +
        "c -> shiftright(simhash, c * 16) & 65535))")
        .as(Seq("chunk", "val")))
    val hot = chunks.groupBy(col("chunk"), col("val"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucket)
      .select(col("chunk"), col("val"))
    val ok = chunks.join(hot, Seq("chunk", "val"), "left_anti")
    val a = ok.select(col("chunk"), col("val"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = ok.select(col("chunk"), col("val"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The exploded (doc_id, distinct 3-gram) table — the shared lake
    * artifact behind x05's exact Jaccard, x30's compose, and x50's
    * novelty scoring (all read [[X05Shingles]], so the
    * tokenize+explode scan runs once per corpus fingerprint no matter
    * which consumer touches it first). Docs shorter than 3 tokens
    * contribute no rows (empty shingle array explodes to nothing).
    */
  def shingleTable(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(shingles(3)).as("shingle"))

  /** The two stages the x05 pair family ([[ngramJaccardPairs]],
    * [[containmentPairs]]) reads: the exact-text canonical map
    * (doc_id, canon) and the GATED shingle table (hot-cap anti-join +
    * canonical collapse over [[shingleTable]]). Each feeds several plan
    * branches, so lake callers read them as lake tables
    * ([[lakeStages]]) and every reference is one compact parquet scan.
    */
  private[graft] final case class ShingleStages(canon: DataFrame, gated: DataFrame)

  /** A shingle in more than max(50, nDocs/100) documents is hot. */
  private def hotCap(nDocs: Long): Long = math.max(50L, nDocs / 100L)

  /** Hot shingles anti-joined away (AQE broadcasts the tiny hot list),
    * canonical documents only.
    */
  private def gatedShingles(sh0: DataFrame, canonMap: DataFrame,
      cap: Long): DataFrame = {
    val hot = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("df_c"))
      .filter(col("df_c") > cap).select(col("shingle"))
    sh0.join(hot, Seq("shingle"), "left_anti")
      .join(canonMap.filter(col("doc_id") === col("canon"))
        .select(col("doc_id")), "doc_id")
  }

  /** The stages over an in-memory corpus, nothing checkpointed. */
  private def stagesOf(df: DataFrame): ShingleStages = {
    val canonMap = canonicalMap(df)
    ShingleStages(canonMap, gatedShingles(shingleTable(df), canonMap, hotCap(df.count())))
  }

  val X05Shingles: Derived = Derived("x05_shingles")((spark, sfDir) =>
    shingleTable(docs(spark, sfDir)))

  val X05Canon: Derived = Derived("x05_canon_v1")((spark, sfDir) =>
    canonicalMap(docs(spark, sfDir)))

  /** The gated table's CONTENT depends on the cap, so the cap keys its
    * name (ADVICE r17): a resized corpus never reuses a wrong one.
    */
  val X05Gated: Long => Derived =
    Derived.keyed("x05_shingles_gated_cap", (cap: Long) => s"${cap}_v1")((cap, spark, sfDir) =>
      gatedShingles(Lake.materialize(spark, sfDir, X05Shingles),
        Lake.materialize(spark, sfDir, X05Canon), cap))

  /** The corpus's stages as lake tables, the cap from footer metadata
    * (no count() job per invocation). It retires
    * `x05_shingles_gated_v1`, the gated table's name before the cap
    * joined it (r17), so a lake root does not carry that orphan.
    */
  private[graft] def lakeStages(spark: SparkSession, sfDir: String): ShingleStages = {
    Lake.retireDerived(spark, sfDir, "x05_shingles_gated_v1")
    ShingleStages(Lake.materialize(spark, sfDir, X05Canon),
      Lake.materialize(spark, sfDir,
        X05Gated(hotCap(Lake.rowCount(spark, sfDir, "documents")))))
  }

  /** Exact n-gram Jaccard via inverted-index join: explode distinct
    * shingles, equi-join on the shingle (the "index"), count
    * intersections per pair, compute |A∩B| / (|A|+|B|-|A∩B|).
    *
    * Hot-key guard: shingles whose document frequency exceeds
    * max(50, n_docs/100) are dropped BEFORE the index join — a
    * ubiquitous shingle ("in the the") would otherwise put a quadratic
    * posting list on one shuffle key at corpus scale. Jaccard is then
    * the exact Jaccard of the *capped* shingle sets (sizes are computed
    * after the cap, so numerator and denominator agree), which is the
    * standard stopword-filtered similarity a dedup pipeline wants.
    *
    * EXACT-TEXT PRE-COLLAPSE (x92's lesson, applied here after BENCH
    * r14 measured x150 at 22× wall for 10× data): identical texts
    * have identical post-gate shingle sets, so the quadratic index
    * join runs at CANONICAL grain — the corpus's distinct-text
    * geometry, invariant to replication density — and replica pairs
    * re-expand afterwards through output-linear equi-joins. The
    * hot cap (∝ corpus size) otherwise admits k× the df at k×
    * replication, growing the join volume ~k². Output is
    * byte-identical to the doc-grain join: cross-group Jaccard is
    * canonical-pair-constant, and a within-group replica pair scores
    * exactly 1 whenever its gated set is non-empty (and is absent,
    * matching the doc-grain 0/0 behavior, when the set is empty).
    */
  def ngramJaccardPairs(df: DataFrame, threshold: Double): DataFrame =
    ngramJaccardPairs(stagesOf(df), threshold)

  /** [[ngramJaccardPairs]] over prebuilt stages ([[lakeStages]] for
    * lake callers). The canonical map feeds the collapse filter, both
    * cross-expansion sides and the within-group join; the gated table
    * feeds three plan branches.
    */
  def ngramJaccardPairs(st: ShingleStages, threshold: Double): DataFrame = {
    val sizes = st.gated.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = st.gated.select(col("doc_id").as("ca"), col("shingle"))
      .join(st.gated.select(col("doc_id").as("cb"), col("shingle")), "shingle")
      .filter(col("ca") < col("cb"))
      .groupBy(col("ca"), col("cb"))
      .agg(count(lit(1)).as("c"))
    // sizes is one row per canonical — small here, but unbounded at
    // corpus scale, so no broadcast hint: let AQE pick.
    val jacC = inter
      .join(sizes.select(col("doc_id").as("ca"), col("n").as("na")), "ca")
      .join(sizes.select(col("doc_id").as("cb"), col("n").as("nb")), "cb")
      .select(col("ca"), col("cb"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // cross-group expansion: one output row per (replica-of-ca,
    // replica-of-cb); member ids interleave across groups, so the
    // pair reorders by id
    val cross = jacC
      .join(st.canon.select(col("canon").as("ca"), col("doc_id").as("ida")), "ca")
      .join(st.canon.select(col("canon").as("cb"), col("doc_id").as("idb")), "cb")
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("jaccard"))
    // within-group: every replica pair of a canonical whose gated set
    // is non-empty is an exact duplicate → jaccard 1
    val members = st.canon
      .join(sizes.select(col("doc_id").as("canon")), "canon")
    val within = members.select(col("canon"), col("doc_id").as("doc_a"))
      .join(members.select(col("canon"), col("doc_id").as("doc_b")), "canon")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
      .filter(lit(1.0) >= lit(threshold))
    cross.unionByName(within)
  }

  /** x239's BLEU-2 over a prebuilt candidate-pair frame — the MT/
    * generation-eval metric applied where a 100 TB pipeline actually
    * needs it: GRADING near-duplicate pairs (jaccard says the
    * shingle SETS overlap; BLEU says how much of the candidate's
    * token stream is copied, order-sensitively, with the brevity
    * penalty punishing truncated paraphrases — the number a dedup
    * tuning pass reads to pick its threshold). Clipped modified
    * precisions p_n = Σ_g min(cnt_ref(g), cnt_cand(g))/|cand grams|
    * for n = 1, 2, BP = e^(1−r/c) when the candidate is shorter, and
    * BLEU-2 = BP·√(p₁·p₂). Everything is exact-integer joins of the
    * bounded pair set against per-doc gram-count tables (pairs are
    * the x05 verified volume — broadcastable; the gram tables are
    * corpus-sized but touched by equi-join only); the single exp/
    * sqrt runs on one fixed double expression at 6 dp.
    */
  def bleuOnPairs(d: DataFrame, pairs: DataFrame,
      nDocs: Long = -1L): DataFrame = {
    val toks = split(col("text"), " ")
    val pc = pairsOnce(pairs)
    val p = broadcast(pc)
    val dm = pairMembers(d, pc, nDocs)
    val uni = dm.select(col("doc_id"), explode(toks).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val lens = uni.groupBy(col("doc_id")).agg(sum(col("c")).as("len"))
    val bi = dm.select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i+1]))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    def clipped(grams: DataFrame, name: String) = p
      .join(grams.select(col("doc_id").as("doc_a"), col("g"),
        col("c").as("c_ref")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("g"),
        col("c").as("c_cand")), Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("c_ref"), col("c_cand"))).as(name))
    def dd(c: String) = col(c).cast("double")
    val bp = when(col("len_b") < col("len_a"),
      exp(lit(1.0) - dd("len_a") / dd("len_b"))).otherwise(lit(1.0))
    p.join(lens.select(col("doc_id").as("doc_a"), col("len").as("len_a")),
        "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"), col("len").as("len_b")),
        "doc_b")
      .join(clipped(uni, "c1"), Seq("doc_a", "doc_b"), "left")
      .join(clipped(bi, "c2"), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"),
        coalesce(col("c1"), lit(0L)).as("clip1"),
        coalesce(col("c2"), lit(0L)).as("clip2"))
      .withColumn("bleu2",
        when(col("len_b") > 1L,
          round(bp * sqrt((dd("clip1") / dd("len_b")) *
            (dd("clip2") / (dd("len_b") - 1.0))), 6)))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Member-coverage fraction above which the member filter is pure
    * overhead and is skipped (VERDICT r17 #2: "skip the member filter
    * when pairs ≈ corpus"). When the pair set's member docs cover
    * ~the whole corpus — x288's 200-doc sample by construction, and
    * the replicated scaled-lake big points where every doc has exact
    * twins and therefore pairs — the semi-join keeps essentially
    * every row and its extra stages buy nothing. Below the threshold
    * the filter stays: the r18 MATCHED-session A/B at sf0.1 (members
    * 40 of 5 000 docs) measured removal as a 65% REGRESSION on x259
    * (2.72 → 4.51 s — the char-trigram table both intersection legs
    * fully scan is exactly what the filter bounds) and flat on
    * x239/x285, so the r17 close's apparent 25-40% filter cost was
    * cross-session noise, not the filter.
    */
  private[graft] val PairMemberSkipCoverage: Double = 0.9

  /** Docs restricted to the broadcast pair set's member ids: every
    * consumer of the per-doc gram-count tables equi-joins them back
    * onto the pair frame's doc_a/doc_b, so grams of non-member docs
    * can never reach an output row — the left-semi filter BEFORE the
    * explode+count makes gram-table volume proportional to the pair
    * set's member docs, not the corpus (guide §2.3: project/filter
    * before the exchange; the pair set is the x05 verified volume,
    * already broadcast, so the member list rides the same exchange).
    *
    * MEASURED GATE (VERDICT r17 #2, the wedgeStats idiom): applied
    * unless the members already cover ≥ [[PairMemberSkipCoverage]] of
    * the corpus — then it keeps ~every row and is skipped. `nDocs`
    * comes from parquet footers (Lake.rowCount) — no job; the member
    * count is one tiny job over the already-localCheckpoint'ed pair
    * set. nDocs < 0 (unknown, in-memory callers) keeps the filter —
    * the scale-safe default. Output is identical either way: grams
    * of non-member docs cannot reach an output row (the r17
    * equivalence argument), so the gate only moves work, never rows.
    */
  private def pairMembers(d: DataFrame, p: DataFrame,
      nDocs: Long = -1L): DataFrame = {
    val memberList = p.select(
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val worthIt =
      nDocs < 0L || memberList.count() < nDocs * PairMemberSkipCoverage
    if (worthIt) d.join(broadcast(memberList), Seq("doc_id"), "left_semi")
    else d
  }

  /** The candidate-pair frame computed ONCE per invocation: the
    * graders reference it from two broadcast subtrees (the pair join
    * and [[pairMembers]]'s member list) whose plans differ, so
    * broadcast-exchange reuse cannot dedupe them and the whole
    * candidate DAG (the x05 shingle join) would evaluate twice — the
    * r17 first-cut member filter measured exactly that (+0.6-0.8 s at
    * sf0.1). The pair set is the verified near-dup volume — bounded
    * and tiny — so an eager localCheckpoint is node-sized blocks,
    * recomputed per invocation (never a cross-run cache).
    */
  private def pairsOnce(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()

  /** x285's ROUGE-1/2 over the same verified pair frame as x239 —
    * the RECALL-oriented complement (BLEU asks how much of the
    * candidate is copied FROM the reference; ROUGE asks how much of
    * the reference is COVERED — the summarization-eval convention,
    * and the side a contamination reviewer actually cares about:
    * "how much of doc A survives inside doc B"). Clipped n-gram
    * overlap I_n (the same min(cnt_a, cnt_b) intersection as BLEU's
    * numerator), P = I/|cand grams|, R = I/|ref grams|,
    * F1 = 2PR/(P+R) for n = 1, 2. Identical scale shape to
    * [[bleuOnPairs]]: broadcast pair set, equi-joins against the
    * per-doc gram-count tables, exact integers to one fixed double
    * expression per column.
    */
  def rougeOnPairs(d: DataFrame, pairs: DataFrame,
      nDocs: Long = -1L): DataFrame = {
    val toks = split(col("text"), " ")
    val pc = pairsOnce(pairs)
    val p = broadcast(pc)
    val dm = pairMembers(d, pc, nDocs)
    val uni = dm.select(col("doc_id"), explode(toks).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val lens = uni.groupBy(col("doc_id")).agg(sum(col("c")).as("len"))
    val bi = dm.select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i+1]))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    def clipped(grams: DataFrame, name: String) = p
      .join(grams.select(col("doc_id").as("doc_a"), col("g"),
        col("c").as("c_ref")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("g"),
        col("c").as("c_cand")), Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("c_ref"), col("c_cand"))).as(name))
    def dd(c: String) = col(c).cast("double")
    def f1(i: String, refDen: Column, candDen: Column) =
      when(refDen > 0.0 && candDen > 0.0 && col(i) > 0L,
        round(lit(2.0) * (dd(i) / candDen) * (dd(i) / refDen) /
          (dd(i) / candDen + dd(i) / refDen), 6)).otherwise(lit(0.0))
    p.join(lens.select(col("doc_id").as("doc_a"), col("len").as("len_a")),
        "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"), col("len").as("len_b")),
        "doc_b")
      .join(clipped(uni, "i1"), Seq("doc_a", "doc_b"), "left")
      .join(clipped(bi, "i2"), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("i1"), lit(0L)).as("i1"),
        coalesce(col("i2"), lit(0L)).as("i2"),
        col("len_a"), col("len_b"))
      .withColumn("rouge1_r",
        when(col("len_a") > 0L, round(dd("i1") / dd("len_a"), 6)))
      .withColumn("rouge1_f", f1("i1", dd("len_a"), dd("len_b")))
      .withColumn("rouge2_f", f1("i2",
        dd("len_a") - 1.0, dd("len_b") - 1.0))
      .select(col("doc_a"), col("doc_b"), col("i1"), col("i2"),
        col("rouge1_r"), col("rouge1_f"), col("rouge2_f"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x259's chrF2 over the same verified near-dup pairs as x239 —
    * the TOKENIZATION-FREE grading of the pair (BLEU-2 collapses
    * when whitespace or punctuation shifts; chrF's character
    * 3-gram F-score is the MT-eval standard exactly because it
    * doesn't): per doc the char-trigram multiset (one map-side
    * sliding window, the x76 char-grain volume class), per pair the
    * clipped-min intersection I, P = I/|hyp grams|, R = I/|ref
    * grams|, chrF2 = 5PR/(4P + R) (β = 2 — recall-weighted, the
    * published default). Exact integer counts to the final fixed
    * double expression; zero-overlap pairs read 0, not NULL.
    */
  def chrfOnPairs(d: DataFrame, pairs: DataFrame,
      nDocs: Long = -1L): DataFrame = {
    val pc = pairsOnce(pairs)
    val p = broadcast(pc)
    val tri = pairMembers(d, pc, nDocs).filter(length(col("text")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val tots = tri.groupBy(col("doc_id")).agg(sum(col("c")).as("n3"))
    val inter = p
      .join(tri.select(col("doc_id").as("doc_a"), col("g"),
        col("c").as("c_a")), Seq("doc_a"))
      .join(tri.select(col("doc_id").as("doc_b"), col("g"),
        col("c").as("c_b")), Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("c_a"), col("c_b"))).as("i3"))
    def dd(c: String) = col(c).cast("double")
    val pr = dd("i3") / dd("n3_b")
    val rc = dd("i3") / dd("n3_a")
    p.join(tots.select(col("doc_id").as("doc_a"), col("n3").as("n3_a")),
        "doc_a")
      .join(tots.select(col("doc_id").as("doc_b"), col("n3").as("n3_b")),
        "doc_b")
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("n3_a"), col("n3_b"),
        coalesce(col("i3"), lit(0L)).as("i3"))
      .withColumn("chrf2",
        when(col("n3_a") > 0L && col("n3_b") > 0L,
          when(lit(4.0) * pr + rc > 0.0,
            round(lit(5.0) * pr * rc / (lit(4.0) * pr + rc), 6))
            .otherwise(lit(0.0))))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** doc_id → canonical (min doc_id sharing the exact text) — the
    * collapse key for [[ngramJaccardPairs]]/[[containmentPairs]].
    */
  private def canonicalMap(df: DataFrame): DataFrame = {
    val wk = Window.partitionBy(col("_k"))
    df.select(col("doc_id"), md5(col("text")).as("_k"))
      .withColumn("canon", min(col("doc_id")).over(wk))
      .select(col("doc_id"), col("canon"))
  }

  /** Asymmetric CONTAINMENT pairs over the same capped shingle index
    * as [[ngramJaccardPairs]]: C(inner, outer) = |S_in ∩ S_out| /
    * |S_in| — the quote-inclusion / partial-copy detector. A short
    * doc fully embedded in a long one has Jaccard ≈ |S_in|/|S_out|
    * (arbitrarily small — invisible to x05's symmetric threshold) and
    * is only a PREFIX case if the copy starts at token 1 (x74's
    * contract); containment is ≈ 1 regardless of where the copy sits.
    * Same one-join shape and hot-shingle cap; both directions of each
    * unordered pair are tested, so the output is (inner_id, outer_id)
    * ordered pairs with the inner's coverage fraction.
    */
  def containmentPairs(df: DataFrame, threshold: Double): DataFrame =
    containmentPairs(stagesOf(df), threshold)

  /** [[containmentPairs]] over the x05 family's stages (same cap rule
    * and exact-text pre-collapse: containment is canonical-pair-
    * constant, roles expand group-to-group, and within-group replica
    * pairs are containment 1 both ways when the gated set is non-empty).
    */
  def containmentPairs(st: ShingleStages, threshold: Double): DataFrame = {
    val sizes = st.gated.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = st.gated.select(col("doc_id").as("ca"), col("shingle"))
      .join(st.gated.select(col("doc_id").as("cb"), col("shingle")), "shingle")
      .filter(col("ca") < col("cb"))
      .groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("c"))
    val cont = inter
      .join(sizes.select(col("doc_id").as("ca"), col("n").as("na")), "ca")
      .join(sizes.select(col("doc_id").as("cb"), col("n").as("nb")), "cb")
    val aInB = cont.filter(col("c").cast("double") / col("na") >= threshold)
      .select(col("ca").as("ci"), col("cb").as("co"),
        round(col("c").cast("double") / col("na"), 4).as("containment"))
    val bInA = cont.filter(col("c").cast("double") / col("nb") >= threshold)
      .select(col("cb").as("ci"), col("ca").as("co"),
        round(col("c").cast("double") / col("nb"), 4).as("containment"))
    val cross = aInB.unionByName(bInA)
      .join(st.canon.select(col("canon").as("ci"), col("doc_id").as("inner_id")), "ci")
      .join(st.canon.select(col("canon").as("co"), col("doc_id").as("outer_id")), "co")
      .select(col("inner_id"), col("outer_id"), col("containment"))
    val members = st.canon
      .join(sizes.select(col("doc_id").as("canon")), "canon")
    val within = members.select(col("canon"), col("doc_id").as("inner_id"))
      .join(members.select(col("canon"), col("doc_id").as("outer_id")), "canon")
      .filter(col("inner_id") =!= col("outer_id"))
      .select(col("inner_id"), col("outer_id"), lit(1.0).as("containment"))
      .filter(lit(1.0) >= lit(threshold))
    cross.unionByName(within)
  }

  /** Per-cluster MEDOID election (x103): inside each near-dup
    * cluster, the survivor should be the most REPRESENTATIVE member,
    * not an arbitrary one — x18 keeps min-id, x40 keeps
    * highest-quality; the medoid keeps the doc sharing the most
    * content with its cluster peers. Weight = Σ over incident
    * thresholded edges of the shared-shingle count c — an exact
    * INTEGER, so the argmax needs no float rounding contract at all
    * (a Σjaccard weight would be an accumulation-ordered float sum).
    * Per-cluster argmax is a window partitioned by component —
    * bounded by cluster size, which the hot-shingle cap already
    * bounds at corpus scale. Shares the x05 shingle artifact and the
    * x18 component table; emits only real clusters (size ≥ 2).
    */
  def clusterMedoids(spark: SparkSession, sfDir: String): DataFrame = {
    val cap = hotCap(Lake.rowCount(spark, sfDir, "documents"))
    val sh0 = Lake.materialize(spark, sfDir, X05Shingles)
    val hot = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("df_c"))
      .filter(col("df_c") > cap).select(col("shingle"))
    val sh = sh0.join(hot, Seq("shingle"), "left_anti")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("c"))
    val wp = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(col("c").cast("double") / (col("na") + col("nb") - col("c")) >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("c"))
    medoidsFromParts(wp,
      componentTable(spark, sfDir)
        .select(col("v").as("doc_id"), col("label").as("component")))
  }

  /** [[clusterMedoids]]'s election body over explicit frames —
    * weighted pairs (doc_a, doc_b, c) and a component table
    * (doc_id, component) — exposed so tests can feed a planted
    * topology where the medoid is NOT the min-id survivor.
    */
  def medoidsFromParts(wp: DataFrame, comps: DataFrame): DataFrame = {
    val w = wp.select(col("doc_a").as("doc_id"), col("c"))
      .unionByName(wp.select(col("doc_b").as("doc_id"), col("c")))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("w"))
    val m = comps.join(w, Seq("doc_id"), "left").na.fill(0L, Seq("w"))
    val cs = m.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") >= 2)
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(desc("w"), col("doc_id"))
    m.join(cs, "component")
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") === 1)
      .select(col("component"), col("doc_id").as("medoid_id"),
        col("cluster_size"), col("w").as("total_shared"))
  }

  /** Benchmark-contamination screen: for each corpus document, count
    * the distinct verbatim word n-grams it shares with ANY benchmark
    * document other than itself, and flag it when that count is
    * positive — the decontamination check a training pipeline runs
    * against held-out eval sets before training.
    *
    * Scale shape: both sides reduce to (doc_id, shingle) rows; the
    * benchmark side (eval sets are thousands of documents, not
    * billions) is explicitly broadcast, so the screen is one
    * shuffle-free scan of the corpus joined against an in-memory hash
    * set, followed by a per-doc count — no shuffle except the final
    * aggregation on doc_id. If the benchmark side ever outgrew a
    * broadcast, drop the hint and the same plan becomes a shuffled
    * equi-join on the shingle.
    *
    * Inputs are (doc_id, text) frames; documents shorter than n tokens
    * contribute no shingles (and cannot be flagged).
    */
  def contaminationScreen(corpus: DataFrame, bench: DataFrame, n: Int): DataFrame = {
    val hits = shingleHits(shingleRows(corpus, n), bench, n)
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Contamination overlap FRACTION — the decision metric behind the
    * published decontamination rules (GPT-3 App. C / PaLM-style: drop
    * or clean a training document when more than a threshold share of
    * its n-grams overlaps an eval set), where [[contaminationScreen]]
    * (x25) only answers the boolean. Per corpus doc: its distinct
    * n-gram shingle count, how many of those appear in any benchmark
    * doc other than itself, their ratio, and the threshold verdict.
    *
    * Scale shape: identical to x25 — (doc_id, shingle) rows, benchmark
    * side broadcast, per-doc hash aggregation; the only addition is
    * the denominator aggregate, computed on the same exploded scan.
    * Cross-engine exactness: the fraction is one division of two exact
    * integers (correctly-rounded IEEE on both engines), and the flag
    * compares that unrounded quotient against the threshold, so both
    * engines derive bit-identical doubles before the 4 dp display
    * round (x43's jaccard discipline).
    */
  def contaminationFraction(corpus: DataFrame, bench: DataFrame, n: Int,
      threshold: Double): DataFrame = {
    val c = shingleRows(corpus, n)
    val total = c.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val hits = shingleHits(c, bench, n)
    val frac = coalesce(col("n_shared"), lit(0L)).cast("double") /
      greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L))
    corpus.select(col("doc_id"))
      .join(total, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(frac, 4).as("overlap_frac"),
        (frac >= threshold).as("flagged"))
  }

  /** (doc_id, g) rows of `df`'s distinct word n-grams — both sides of every
    * contamination screen.
    */
  private def shingleRows(df: DataFrame, n: Int): DataFrame =
    df.select(col("doc_id"),
      explode(when(size(tokens) >= n, shingles(n))
        .otherwise(array().cast("array<string>"))).as("g"))

  /** The one shingle-hit core of the contamination screens (x25, x32,
    * x36, x60): (doc_id, n_shared) for every corpus doc sharing at
    * least one distinct n-gram with a benchmark doc other than itself.
    * `corpusShingles` is [[shingleRows]] of the corpus; the benchmark
    * side is broadcast, so the corpus is probed against an in-memory
    * hash set with no shuffle before the per-doc aggregation.
    */
  private def shingleHits(corpusShingles: DataFrame, bench: DataFrame,
      n: Int): DataFrame = {
    val b = shingleRows(bench, n)
      .select(col("doc_id").as("b_id"), col("g").as("bg"))
    corpusShingles.as("c").join(broadcast(b.as("b")),
        col("c.g") === col("b.bg") && col("c.doc_id") =!= col("b.b_id"))
      .select(col("c.doc_id").as("doc_id"), col("c.g").as("g"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
  }

  /** x25's registered screen: every document against the
    * deterministic 5% benchmark slice doc_id % 20 == 0, on 8-grams.
    * x32 and x36 read it too. Retires `x32_bench_shingles8`, the lake
    * table x32's former bloom-filtered variant of this screen read.
    */
  private def sliceScreen(spark: SparkSession, sfDir: String): DataFrame = {
    Lake.retireDerived(spark, sfDir, "x32_bench_shingles8")
    val d = docs(spark, sfDir)
    contaminationScreen(
      d.select(col("doc_id"), col("text")),
      d.filter(col("doc_id") % 20 === 0).select(col("doc_id"), col("text")),
      n = 8)
  }

  /** Incremental-ingest exact dedup: classify each `batch` document
    * against the standing `corpus` WITHOUT reprocessing the corpus —
    * the delta path of x01's full-corpus dedup, what a pipeline runs
    * per ingest cycle. Output per batch doc: `dup_in_corpus` (its
    * normalized text already exists in the corpus), `dup_in_batch`
    * (an earlier batch doc has the same text), `survivor` (neither).
    *
    * Scale shape: the bloom is built over the SMALL side (the batch's
    * normalized texts) and probed on the corpus scan map-side, so the
    * only corpus rows that ever reach a shuffle are those that might
    * match a batch doc — bounded by |batch| + fpp·|corpus| — instead
    * of a full corpus shuffle per ingest. The batch itself shuffles
    * once on the normalized key (the in-batch dedup window + the
    * verify join share it). Exact because a bloom has no false
    * negatives: the distinct-candidate join confirms every bloom hit.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val bNorm = batch.select(col("doc_id"), normText.as("norm"))
    val bloom = BloomExpressions.build("incrementalDedup", bNorm, col("norm"),
      expectedItems = 1L << 20)
    val corpusCand = corpus.select(normText.as("norm"))
      .filter(BloomExpressions.mightContain(bloom, col("norm")))
      .distinct()
      .withColumn("in_corpus", lit(true))
    val w = Window.partitionBy(col("norm")).orderBy(col("doc_id"))
    bNorm.withColumn("rn", row_number().over(w))
      .join(corpusCand, Seq("norm"), "left")
      .select(col("doc_id"),
        coalesce(col("in_corpus"), lit(false)).as("dup_in_corpus"),
        (col("rn") > 1).as("dup_in_batch"),
        (!coalesce(col("in_corpus"), lit(false)) && col("rn") === 1)
          .as("survivor"))
  }

  /** Connected components over a near-dup pair graph by iterative
    * min-label propagation: label(v) ← min(label(v), min of neighbor
    * labels) until a fixed point. The component id is the minimum
    * doc_id in the component — deterministic, so the operator takes a
    * full SQL oracle (a recursive CTE).
    *
    * This is the step pair-producing dedup (x03/x05/x09) is FOR: a
    * pipeline keeps one survivor per component, not per pair — pairs
    * (a,b),(b,c) must collapse to one cluster {a,b,c}, not two
    * independent decisions.
    *
    * Scale shape: each iteration is one equi-join + partial-aggregated
    * min, shuffled on vertex id; rounds = graph diameter. Near-dup
    * graphs from banding are dense clique-ish clusters with tiny
    * diameter, so propagation converges in a handful of rounds (the
    * alternating star algorithms win only on adversarial long-path
    * graphs). Callers pass a lake-checkpointed edge table so the
    * per-iteration re-read is a parquet scan, not a recomputation of
    * the candidate pipeline; labels persist/unpersist per round so no
    * lineage chain or cache entry outlives the call.
    *
    * `checkpoint` snapshots the CONVERGED label table. The default
    * `localCheckpoint(eager = true)` is for ad-hoc in-memory callers
    * only: it truncates lineage into EXECUTOR-LOCAL storage, which does
    * not survive executor loss on a real cluster. Callers about to
    * materialize the result themselves (the registered x18/x19 path)
    * pass `identity`: the returned frame is then the still-PERSISTED
    * label table with its full lineage — recomputable on executor loss
    * like any cached frame — and the caller owns the unpersist after
    * consuming it.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      checkpoint: DataFrame => DataFrame = _.localCheckpoint(true)): DataFrame = {
    val sym = pairs.select(col("doc_a").as("v"), col("doc_b").as("u"))
      .union(pairs.select(col("doc_b").as("v"), col("doc_a").as("u")))
    var labels = sym.select(col("v")).distinct()
      .withColumn("label", col("v")).persist()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("v").as("u"), col("label").as("ulabel")), "u")
        .groupBy(col("v")).agg(min(col("ulabel")).as("nmin"))
      val next = labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .persist()
      changed = next.join(labels.withColumnRenamed("label", "prev"), "v")
        .filter(col("label") =!= col("prev")).count()
      labels.unpersist()
      labels = next
      iter += 1
    }
    // A silently non-converged label table is wrong-and-materialized:
    // downstream keeps survivors off it. Near-dup graphs have tiny
    // diameter so this never fires in practice, but a pathological
    // long-chain graph must fail loudly, not return split components.
    if (changed > 0) {
      labels.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          s"($changed labels still changing); raise maxIter for graphs " +
          "with diameter > maxIter")
    }
    // hand back the snapshot and release the loop's cache entry — the
    // result is one row per paired vertex (small). An `identity`
    // checkpoint opts out: the caller consumes the persisted table and
    // unpersists it afterwards.
    val result = checkpoint(labels)
    if (!(result eq labels)) labels.unpersist()
    result
  }

  /** The canonical near-dup Jaccard threshold is part of the pair
    * definition, so it keys both x18 table names.
    */
  private val NearDupThreshold = 0.5
  private val NearDupKey = s"t${(NearDupThreshold * 100).toInt}"

  /** The near-dup pairs (doc_a, doc_b) x18's components and x104 share. */
  val X18Pairs: Derived = Derived(s"x18_ngram_pairs_$NearDupKey")((spark, sfDir) =>
    ngramJaccardPairs(lakeStages(spark, sfDir), threshold = NearDupThreshold)
      .select(col("doc_a"), col("doc_b")))

  /** The converged labels (v, label) go straight from the persisted
    * (lineage-backed, hence executor-loss-recomputable) label table to
    * the lake, no localCheckpoint; [[Lake.materialize]] releases it
    * after the write. The EAGER loop runs inside the build's
    * per-target lock, so N contending cold-start queries run it once.
    */
  val X18Components: Derived = Derived(s"x18_components_$NearDupKey")((spark, sfDir) =>
    connectedComponents(Lake.materialize(spark, sfDir, X18Pairs), checkpoint = identity))

  /** The lake-checkpointed near-dup component table (v, label) at the
    * canonical threshold — shared by x18's component listing and x19's
    * curation survivor filter, so both read the same two parquet
    * artifacts and the iterative computation runs once per corpus
    * fingerprint.
    */
  def componentTable(spark: SparkSession, sfDir: String): DataFrame =
    Lake.materialize(spark, sfDir, X18Components)

  /** Curated-corpus stats shared by x19 and the x30 composition:
    * quality gates (stopword density, minimum length) then the
    * near-dup survivor filter against the shared component table.
    * One definition so the capstone can never silently diverge from
    * the stage it composes.
    */
  def curatedStats(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = docs(spark, sfDir).select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"),
      size(tokens).as("n_tokens"),
      TextAnalysis.stopwordRatio(tokens).as("stop_ratio"))
    val nonSurvivors = componentTable(spark, sfDir)
      .filter(col("v") =!= col("label"))
      .select(col("v").as("doc_id"))
    stats
      .filter(col("stop_ratio") >= 0.05 && col("n_tokens") >= 10)
      .join(nonSurvivors, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), col("n_tokens"))
  }

  /** (short_id, long_id, short_chars, long_chars) pairs where the
    * short doc's text is a word-boundary prefix of the long doc's.
    * Contract: only docs with ≥ 8 tokens participate (shorter docs
    * are exact-dedup territory, x01); prefix keys seen on more than
    * `cap` docs are excluded (the hot-bucket cap — boilerplate
    * prefixes never enumerate quadratically).
    */
  def truncationPairs(df: DataFrame, cap: Long): DataFrame = {
    val toks = split(col("text"), " ")
    val keyed = df
      .filter(size(toks) >= 8)
      .select(col("doc_id"), col("text"),
        concat_ws(" ", slice(toks, 1, 8)).as("key8"))
    val keep = keyed.groupBy(col("key8"))
      .agg(count(lit(1)).as("kc"))
      .filter(col("kc") <= cap).select(col("key8"))
    val capped = keyed.join(keep, "key8")
    val a = capped.select(col("key8"), col("doc_id").as("long_id"),
      col("text").as("ta"))
    val b = capped.select(col("key8"), col("doc_id").as("short_id"),
      col("text").as("tb"))
    a.join(b, "key8")
      .filter(length(col("ta")) > length(col("tb")) &&
        expr("substring(ta, 1, length(tb)) = tb") &&
        expr("substring(ta, length(tb) + 1, 1) = ' '"))
      .select(col("short_id"), col("long_id"),
        length(col("tb")).as("short_chars"), length(col("ta")).as("long_chars"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs under classic
    * record-linkage blocking: candidates share a (length, 4-char
    * prefix) block, hot blocks above `maxBlock` members are dropped
    * (the x03 hot-key discipline — a templated prefix would otherwise
    * make one block quadratic), and the O(len·k) banded Levenshtein
    * runs ONLY inside surviving blocks. This is the typo/OCR-noise
    * dedup class: a handful of character edits, which token-level
    * jaccard can't see (one typo still leaves jaccard ≈ 1 — but so
    * does a whole reordered sentence; edit distance separates them)
    * and exact hashing misses entirely.
    *
    * Scale shape: exact-duplicate texts collapse to their MIN-doc_id
    * representative FIRST (x92/x150's replication-invariance lesson,
    * applied here after the r15 big point read 15.4× at 10×
    * replicated data: identical copies multiply every block's
    * membership, so Σ C(block,2) grows ~k² under k× replication
    * while the distinct-text pair set is unchanged — exact dups are
    * x01's job, not Levenshtein's). Then one groupBy for block
    * sizes, one equi-join on the block key — candidate volume is
    * Σ C(block,2) over DISTINCT texts, bounded by maxBlock²·n_blocks,
    * never n². The threshold is passed INTO Spark's 3-arg
    * `levenshtein(l, r, k)`, which abandons the DP row once the
    * distance cannot come back under k (returns -1) — the
    * per-candidate cost is O(len·k), not O(len²). Reported ids are
    * exact-text-class representatives; on a corpus with no exact-dup
    * texts (every gated sf here) the output is byte-identical to the
    * pre-collapse semantics.
    */
  def editDistancePairs(df: DataFrame, threshold: Int, maxBlock: Long): DataFrame = {
    val keyed = df.groupBy(md5(col("text")).as("_k"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("text"),
        length(col("text")).as("blk_len"),
        substring(col("text"), 1, 4).as("blk_pre"))
    val keep = keyed.groupBy(col("blk_len"), col("blk_pre"))
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= maxBlock)
      .select(col("blk_len"), col("blk_pre"))
    val capped = keyed.join(keep, Seq("blk_len", "blk_pre"))
    val a = capped.select(col("blk_len"), col("blk_pre"),
      col("doc_id").as("id_a"), col("text").as("ta"))
    val b = capped.select(col("blk_len"), col("blk_pre"),
      col("doc_id").as("id_b"), col("text").as("tb"))
    a.join(b, Seq("blk_len", "blk_pre"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), threshold))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** The (base ∪ substituted-twin) frame x91 runs on. */
  private def editDistanceInput(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir).select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 8)
    val twins = d.select((col("doc_id") + 3000000L).as("doc_id"),
      concat(substring(col("text"), 1, 4), lit("qq"),
        expr("substring(text, 7)")).as("text"))
    d.unionByName(twins)
  }

  /** Maximal duplicated-SPAN detection — the scalable map-reduce
    * approximation of suffix-array substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"):
    * SLIDING 8-token grams (stride 1, so shift-invariant where x31's
    * fixed chunk boundaries are not), self-joined on the md5 gram key
    * (constant-width shuffle key — document text never shuffles),
    * then adjacent shared grams merge into maximal spans per doc pair
    * with the classic diagonal trick: a shared gram at positions
    * (ia, ib) extends a span iff (ia+1, ib+1) is also shared, i.e.
    * consecutive ia within one (pair, ia−ib) diagonal — plain
    * gaps-and-islands over the diagonal, no iteration.
    *
    * Scale shape: see [[spanCandidatePairs]] — exact-duplicate texts
    * collapse to one representative first, then hot grams DEGRADE to
    * their first `cap` occurrences (never silence), with the cap
    * adapting to the corpus's own gram multiplicity. Candidate volume
    * is Σ C(min(gram_occ, capEff), 2); the island window partitions
    * by (pair, diagonal) — keys strictly finer than the join output,
    * no extra skew.
    *
    * Emits one row per maximal span of ≥ minGrams consecutive shared
    * grams: (doc_a, doc_b, a_start, b_start, n_tokens) with
    * n_tokens = run + 7, positions 1-based; doc ids are exact-class
    * representatives (MIN doc_id per identical text).
    */
  def spanDupPairs(df: DataFrame, cap: Long, minGrams: Int): DataFrame = {
    val pairs = spanCandidatePairs(df, cap)
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("ia"))
    val isl = pairs
      .withColumn("ni",
        when(col("ia") - lag(col("ia"), 1).over(w) === 1, 0).otherwise(1))
      .withColumn("island", sum(col("ni")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(min(col("ia")).as("a_start"), min(col("ib")).as("b_start"),
        count(lit(1)).as("run"))
      .filter(col("run") >= minGrams)
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
        (col("run") + 7).as("n_tokens"))
  }

  /** x92's gram-join candidate frame BEFORE island merging — split
    * out so Bench can count per scale decade the exact volume the
    * hot-gram cap exists to bound (x03's candidate-pair evidence,
    * for spans): (doc_a, doc_b, ia, ib, diag) shared-gram hits.
    *
    * Three scale disciplines, applied in order (VERDICT r11 §3: a
    * fixed drop-the-key cap silently emits ZERO candidates once every
    * gram in a dense corpus exceeds it — a correctness bug at crawl
    * scale, where ≥100-wide duplicate classes are guaranteed):
    *
    *  1. EXACT-CLASS PRE-COLLAPSE — byte-identical texts reduce to
    *     their MIN-doc_id representative before any gram work (one
    *     hash groupBy on the md5(text) constant-width key). A w-wide
    *     exact class contributes its grams ONCE instead of w times,
    *     so uniform replication — the dominant duplication mode in a
    *     real crawl — can never saturate the cap. This is the
    *     standard production ordering: exact dedup first, near-dup
    *     machinery on survivors.
    *  2. MULTIPLICITY-ADAPTIVE CAP — capEff = max(cap, 4 × mean gram
    *     multiplicity) where the mean is total/distinct gram count of
    *     the collapsed corpus (exact integers, `DIV`): a corpus whose
    *     residual near-dup density is pervasively high (every doc a
    *     variant of few templates) raises its own cap instead of
    *     dropping everything.
    *  3. DEGRADE, DON'T DROP — a gram over capEff keeps its FIRST
    *     capEff occurrences (row_number over (doc_id, ia) — exact and
    *     deterministic) instead of vanishing: a 10,000-wide
    *     boilerplate span is still REPORTED among the first capEff
    *     documents (recoverable transitively via x18 components) at a
    *     bounded C(capEff, 2) cost, where the old drop-the-key rule
    *     reported nothing at all.
    */
  def spanCandidatePairs(df: DataFrame, cap: Long): DataFrame = {
    val reps = df.groupBy(md5(col("text")).as("_k"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
      .select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val grams = reps.filter(size(toks) >= 8)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(toks) - 7),
          i => md5(concat_ws(" ", slice(toks, i, lit(8)))))))
      .select(col("doc_id"), (col("pos") + 1).as("ia"), col("col").as("g"))
    // one window pass yields both the per-occurrence rank and (via
    // rk = 1 markers) the exact distinct-gram count — no second
    // countDistinct shuffle over the gram table
    val wg = Window.partitionBy(col("g")).orderBy(col("doc_id"), col("ia"))
    val ranked = grams.withColumn("rk", row_number().over(wg))
    val stats = ranked.agg(count(lit(1)).as("_tot"),
      sum(when(col("rk") === 1, 1L).otherwise(0L)).as("_nd"))
    val gk = ranked.crossJoin(broadcast(stats))
      .filter(col("rk") <= greatest(lit(cap), lit(4L) * expr("_tot DIV _nd")))
      .select(col("doc_id"), col("ia"), col("g"))
    gk.select(col("g"), col("doc_id").as("doc_a"), col("ia"))
      .join(gk.select(col("g"), col("doc_id").as("doc_b"), col("ia").as("ib")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ia"), col("ib"),
        (col("ia") - col("ib")).as("diag"))
  }

  /** The effective hot-gram cap [[spanCandidatePairs]] would apply to
    * `df` (a rising capEff is the visible evidence that the operator
    * is adapting to duplicate density instead of silencing). 1-row
    * aggregate collect — a scalar, not a driver loop.
    */
  def spanCapEffective(df: DataFrame, cap: Long): Long = {
    val reps = df.groupBy(md5(col("text")).as("_k"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
    val toks = split(col("text"), " ")
    val r = reps.filter(size(toks) >= 8)
      .select(explode(transform(sequence(lit(1), size(toks) - 7),
        i => md5(concat_ws(" ", slice(toks, i, lit(8)))))).as("g"))
      .agg(count(lit(1)).as("_tot"), countDistinct(col("g")).as("_nd"))
      .select(greatest(lit(cap), lit(4L) * expr("_tot DIV _nd")))
      .collect()(0)
    r.getLong(0)
  }

  /** Oracle-side CTE chain ending in `pairs(doc_a, doc_b)` — the exact
    * n-gram near-dup pair definition shared by the x05 and x18 oracles
    * (and Curation's survivor filter). Mirrors [[ngramJaccardPairs]].
    * Declared before the maps that embed it (object vals initialize in
    * declaration order).
    */
  val NgramPairsCteBody: String =
    "tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
      "sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
      "tot AS (SELECT COUNT(*) AS n_docs FROM documents), " +
      "keep AS (SELECT shingle FROM sh0, tot GROUP BY shingle, n_docs " +
      "HAVING COUNT(*) <= GREATEST(50, n_docs // 100)), " +
      "sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c " +
      "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "pairs AS (SELECT doc_a, doc_b FROM inter " +
      "JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b " +
      "WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5)"

  /** [[NgramPairsCteBody]] extended through connected components:
    * ends in `reach(v, l)` (requires WITH RECURSIVE).
    */
  val ComponentsCteBody: String =
    NgramPairsCteBody +
      ", edges AS (SELECT doc_a AS v, doc_b AS u FROM pairs " +
      "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
      "reach(v, l) AS (SELECT DISTINCT v, v FROM edges " +
      "UNION SELECT e.v, r.l FROM edges e JOIN reach r ON r.v = e.u)"

  /** x150's Fellegi–Sunter scoring stage over a candidate pair frame
    * (doc_a, doc_b, jaccard) and a field frame (doc_id, lang, source,
    * len_b): per-field agreement weights w = ln(m/u) (agree) /
    * ln((1−m)/(1−u)) (disagree), where m = P(agree | match) is
    * estimated from the high-confidence candidates (jaccard ≥ 0.7 —
    * the deterministic one-step stand-in for the EM fit) and
    * u = P(agree | random pair) comes EXACTLY from the field
    * marginals: u = Σ_v n_v² / N². Both get add-1 smoothing, so every
    * weight is the ln of a strictly-positive exact BIGINT rational —
    * no 0/0, no ln(0) sentinel — taken once onto the 10⁶ grid
    * (x132's discipline); pair scores are exact integer sums.
    * Overflow: the N²-scaled numerators hold to ~10⁹ docs, then swap
    * to DECIMAL(38,0) unchanged.
    */
  def fellegiSunter(cand: DataFrame, meta: DataFrame): DataFrame = {
    // The agreement frame feeds TWO consumers — the m-probability
    // aggregate (a broadcast subtree) and the scored readout — whose
    // plans differ, so exchange reuse cannot dedupe them and the
    // candidate DAG (the x05 shingle join under `cand`) would
    // evaluate twice per invocation. The frame is candidate-bounded;
    // one eager localCheckpoint computes it once (per invocation —
    // never a cross-run cache).
    val pairs = cand
      .join(meta.select(col("doc_id").as("doc_a"), col("lang").as("la"),
        col("source").as("sa"), col("len_b").as("ba")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"), col("lang").as("lb"),
        col("source").as("sb"), col("len_b").as("bb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (col("la") === col("lb")).as("agree_lang"),
        (col("sa") === col("sb")).as("agree_source"),
        (col("ba") === col("bb")).as("agree_len"))
      .localCheckpoint()
    val mstats = broadcast(pairs.filter(col("jaccard") >= 0.7)
      .agg(count(lit(1)).as("mn"),
        coalesce(sum(col("agree_lang").cast("long")), lit(0L)).as("ml"),
        coalesce(sum(col("agree_source").cast("long")), lit(0L)).as("ms"),
        coalesce(sum(col("agree_len").cast("long")), lit(0L)).as("mb")))
    def uOf(c: String) = meta.groupBy(col(c)).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")))
    val ustats = broadcast(uOf("lang").toDF("ul")
      .crossJoin(uOf("source").toDF("us"))
      .crossJoin(uOf("len_b").toDF("ub"))
      .crossJoin(meta.agg(count(lit(1)).as("nn"))))
    val n2 = col("nn") * col("nn")
    def grid(x: Column): Column =
      round(log(x) * lit(1000000.0), 0).cast("long")
    def wAgree(ma: Column, un: Column): Column =
      grid(((ma + lit(1L)) * (n2 + lit(2L))).cast("double") /
        ((col("mn") + lit(2L)) * (un + lit(1L))).cast("double"))
    def wDis(ma: Column, un: Column): Column =
      grid(((col("mn") + lit(1L) - ma) * (n2 + lit(2L))).cast("double") /
        ((col("mn") + lit(2L)) * (n2 + lit(1L) - un)).cast("double"))
    pairs.crossJoin(mstats).crossJoin(ustats)
      .select(col("doc_a"), col("doc_b"),
        col("agree_lang"), col("agree_source"), col("agree_len"),
        (when(col("agree_lang"), wAgree(col("ml"), col("ul")))
          .otherwise(wDis(col("ml"), col("ul"))) +
          when(col("agree_source"), wAgree(col("ms"), col("us")))
            .otherwise(wDis(col("ms"), col("us"))) +
          when(col("agree_len"), wAgree(col("mb"), col("ub")))
            .otherwise(wDis(col("mb"), col("ub")))).as("score_fp"))
  }

  val queries: Map[String, Q] = Map(

    // Exact dedup, survivor picking: keep the lowest doc_id per
    // normalized text (hash groupBy — one shuffle at any scale).
    "x01_dedup_exact" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .groupBy(normText.as("norm"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))
        .select(col("keep_id"), col("n_dupes"))
        .orderBy(col("keep_id"))),

    // Exact dedup, surviving rows (window row_number variant — the
    // idiomatic "keep first per key" at scale).
    "x02_dedup_exact_rows" -> ((spark, sfDir) => {
      val w = Window.partitionBy(normText).orderBy(col("doc_id"))
      docs(spark, sfDir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // CANONICALIZATION DEDUP — the normalization pass a pipeline runs
    // BEFORE hashing: case folding, punctuation stripping, whitespace
    // collapsing. x01's lower+trim misses exactly these variants. The
    // provisioned corpus is already-canonical word soup, so (x24's
    // non-vacuity pattern) a deterministically-noised twin of every
    // doc — upper-cased, comma-injected, ragged-edged, id offset by
    // 10⁶ — is unioned in first: canonical dedup must collapse every
    // twin with its original (and planted exact-dup groups merge
    // across both forms), which raw exact dedup cannot. Same
    // single-shuffle hash-groupBy shape as x01; the canon expression
    // is a stateless codegen'd map.
    "x71_canonical_dedup" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir).select(col("doc_id"), col("text"))
      val noised = d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("  "), regexp_replace(upper(col("text")), " ", " , "),
          lit(" !! ")).as("text"))
      val canon = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      d.unionByName(noised)
        .groupBy(canon.as("canon"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_members"),
          countDistinct(col("text")).as("n_raw_forms"))
        .select(col("keep_id"), col("n_members"), col("n_raw_forms"))
        .orderBy(col("keep_id"))
    }),

    // BAG-OF-WORDS DEDUP — order-insensitive exact dedup: two docs
    // with the same token MULTISET are duplicates even when the token
    // order differs (scraped tables re-serialized in a different
    // column order, shuffled list pages — the class between x01's
    // byte-exact and x03's jaccard-approximate). Canonical form =
    // sorted token array; the shuffle key is its md5, a constant-width
    // key regardless of doc length (at 100 TB the group-by never
    // shuffles document text). Non-vacuity (x71's pattern): the corpus
    // is near-canonical, so a token-REVERSED twin of every doc (id
    // +2·10⁶) is unioned in — bow dedup must collapse every twin with
    // its original, which x01's exact hash cannot.
    "x82_bow_dedup" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir).select(col("doc_id"), col("text"))
      val twins = d.select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
      val bowKey = md5(concat_ws(" ", sort_array(split(col("text"), " "))))
      d.unionByName(twins)
        .groupBy(bowKey.as("bow"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_members"),
          countDistinct(col("text")).as("n_orderings"))
        .select(col("keep_id"), col("n_members"), col("n_orderings"))
        .orderBy(col("keep_id"))
    }),

    // TRUNCATION DEDUP — prefix-containment pairs (doc B is doc A cut
    // off at a word boundary): the crawl-artifact class that exact
    // dedup misses (different text) and minhash blurs (jaccard of a
    // half-length prefix ≈ 0.5, under the x03 threshold). Candidates
    // come from ONE equi-join on the 8-token prefix key, hot keys
    // capped with x03's discipline (templated boilerplate prefixes
    // would otherwise make one key quadratic); the exact containment
    // check is a stateless substring compare inside the join filter.
    // The corpus carries natural truncation pairs, so no injection.
    "x74_truncation_dedup" -> ((spark, sfDir) =>
      truncationPairs(docs(spark, sfDir),
        cap = math.max(50L, Lake.rowCount(spark, sfDir, "documents") / 100))
        .orderBy(col("short_id"), col("long_id"))),

    // EDIT-DISTANCE DEDUP — character-level near-dup (typos, OCR
    // noise, template fills): blocked Levenshtein with the banded
    // 3-arg early-exit. Non-vacuity (x71's pattern): the corpus is
    // word soup with no planted typos, so a 2-char-substituted twin
    // of every doc (id +3·10⁶, same length, same 4-char prefix — so
    // it lands in its original's block by construction) is unioned
    // in; the operator must recover every (orig, twin) pair at
    // dist ≤ 4, which token-grain dedup cannot even express.
    "x91_edit_distance_dedup" -> ((spark, sfDir) =>
      editDistancePairs(editDistanceInput(spark, sfDir),
        threshold = 4, maxBlock = 64L)
        .orderBy(col("id_a"), col("id_b"))),

    // SPAN DEDUP — maximal duplicated substrings across documents
    // (the Lee-et-al. suffix-dedup class): sliding grams + diagonal
    // islands, shift-INVARIANT where x31's fixed 8-token chunking is
    // shift-blind. Non-vacuity: a SHIFTED-excerpt twin (tokens 5..34
    // of every 5th doc, id +4·10⁶) is unioned in — its copied span
    // starts at token 5 of the original and token 1 of the twin, so
    // chunk-aligned passage dedup cannot see it, and the operator
    // must report exactly that offset geometry. Reported doc ids are
    // exact-text-class representatives and hot grams degrade to their
    // first capEff occurrences (see spanCandidatePairs — the corpus
    // here has no exact-dup texts and no >64-occurrence grams, so the
    // gated output is byte-identical to the pre-collapse semantics).
    "x92_span_dedup" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir).select(col("doc_id"), col("text"))
      val toks = split(col("text"), " ")
      val twins = d.filter(col("doc_id") % 5 === 0 && size(toks) >= 12)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat_ws(" ", slice(toks, 5, 30)).as("text"))
      spanDupPairs(d.unionByName(twins), cap = 64L, minGrams = 3)
        .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"))
    }),

    // MinHash-LSH near-dup: 32 hashes, 8 bands × 4 rows, est-jaccard
    // verify at 0.5. Banding join only — no crossJoin anywhere in the
    // plan (the acceptance criterion, VERDICT round-1 §LLM).
    "x03_dedup_minhash" -> ((spark, sfDir) => {
      val sigs = Lake.materialize(spark, sfDir, MinhashSigs)
      val cands = minhashCandidates(Lake.materialize(spark, sfDir, MinhashBands))
      minhashVerify(cands, sigs, MinhashNumHashes, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MINHASH BANDING+VERIFY, EXACT-ORACLED: x03's candidate sets
    // can't cross-engine compare because real signatures are
    // xxhash64-seeded — but the banding/verify MACHINERY can, given
    // signatures both engines can construct. Synthetic 8-position
    // signatures from modular arithmetic on doc_id: positions 0-3
    // are (doc_id%10)*(s+1) — so band 0 (positions 0-3) collides
    // exactly when doc_id agrees mod 10; positions 4-5 are
    // (doc_id%3)*(s+1) — agreement adds 2/8 of est-jaccard;
    // positions 6-7 are doc_id*31+s — unique per doc, so band 1
    // never collides and candidates are PROVABLY the mod-10 classes
    // (an unequal-slice xxhash64 bucket collision has probability
    // ~2^-64). est_jaccard is then (4 + 2·[a≡b mod 3])/8 ∈
    // {0.5, 0.75}; threshold 0.6 keeps exactly the mod-30-equal
    // pairs. This runs minhashBands → minhashCandidates →
    // minhashVerify end-to-end (the same code x03 runs) with a full
    // DuckDB hash-match oracle on the output.
    "x57_minhash_verify_exact" -> ((spark, sfDir) => {
      val numHashes = 8
      val sigs = docs(spark, sfDir).filter(col("doc_id") < 300)
        .select(col("doc_id"),
          array((0 until numHashes).map {
            case s if s < 4 => (col("doc_id") % 10) * (s + 1)
            case s if s < 6 => (col("doc_id") % 3) * (s + 1)
            case s          => col("doc_id") * 31 + s
          }: _*).cast("array<bigint>").as("sig"))
      val bands = minhashBands(sigs, numHashes, bands = 2)
      val cands = minhashCandidates(bands)
      minhashVerify(cands, sigs, numHashes, threshold = 0.6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // SimHash near-dup: 64-bit fingerprints, 4×16-bit banding,
    // Hamming ≤ 8, over the lake-checkpointed [[X04Simhash]] table.
    "x04_dedup_simhash" -> ((spark, sfDir) =>
      simhashPairs(Lake.materialize(spark, sfDir, X04Simhash), maxHamming = 8)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Exact 3-gram Jaccard near-dup via inverted-index join (the
    // ground truth the sketches approximate) — SQL-expressible, so it
    // gets a full DuckDB oracle.
    // Near-dup CLUSTERING: pairs → connected components → survivor
    // flag. Exact n-gram pairs (the x05 definition) feed min-label
    // propagation; component = min doc_id, survivor = the component
    // representative. Both the edge table and the component table are
    // lake-checkpointed: iterations re-read parquet, repeat invocations
    // skip the whole computation.
    "x18_dedup_components" -> ((spark, sfDir) =>
      componentTable(spark, sfDir)
        .select(col("v").as("doc_id"), col("label").as("component"),
          (col("v") === col("label")).as("is_survivor"))
        .orderBy(col("doc_id"))),

    // DUP-CLUSTER PROFILE — the dataset-card histogram over x18's
    // component table: how many near-dup clusters exist at each size,
    // and how many docs dedup would remove (size − 1 per cluster).
    // Two model-sized aggs over the lake-checkpointed component table
    // (cluster count ≤ paired-doc count ≪ corpus); no new corpus
    // pass. The removable total is the headline number a curation
    // run budgets against before committing to the survivor filter.
    "x73_dup_cluster_profile" -> ((spark, sfDir) =>
      componentTable(spark, sfDir)
        .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_docs"),
          sum(col("cluster_size") - 1).as("n_removable"))
        .orderBy(col("cluster_size"))),

    // CURATION — the end-to-end composition a training-data pipeline
    // actually runs, as one registered operator: quality gates
    // (language ID by stopword density, minimum length) -> near-dup
    // survivor filter (one representative per x18 component) ->
    // curated corpus with per-doc token accounting. Scale shape: the
    // quality gates are shuffle-free map work on the scan; the
    // survivor filter is a left-anti join against the NON-survivor set
    // (only paired docs, a small fraction of any real corpus —
    // AQE broadcasts it when it fits); the component table is
    // lake-checkpointed, so repeat invocations run one scan + one
    // anti-join.
    "x19_curation" -> ((spark, sfDir) =>
      curatedStats(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("n_tokens"))
        .orderBy(col("doc_id"))),

    "x05_dedup_ngram_jaccard" -> ((spark, sfDir) =>
      ngramJaccardPairs(lakeStages(spark, sfDir), threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),

    // BLEU-2 PAIR GRADING — score the x05 verified near-dup pairs by
    // order-sensitive token copying with the brevity penalty (the
    // number that separates "same shingle bag" from "same prose",
    // which is what a dedup threshold-tuning pass actually reads) —
    // see [[bleuOnPairs]]. Shares x05's lake-checkpointed shingle
    // artifact through the same candidate call.
    "x239_bleu_pairs" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      bleuOnPairs(d, ngramJaccardPairs(lakeStages(spark, sfDir), threshold = 0.5),
        nDocs = Lake.rowCount(spark, sfDir, "documents"))
    }),

    // SELF-BLEU — corpus DIVERSITY as one number (Texygen's
    // generation-eval metric, equally meaningful for training data:
    // a crawl slice whose docs BLEU-match each other is template
    // spam even when no pair crosses a dedup threshold; x239 grades
    // verified pairs, Self-BLEU grades the corpus): over the
    // deterministic 200-doc sample (x267's sampling rule), every
    // ordered pair (ref, cand) scores BLEU-2 through the SAME
    // [[bleuOnPairs]] machinery, and the mean rides the 10⁻⁶ fp grid
    // (per-pair rounding → exact integer sum — order-free). The pair
    // set is sample²-bounded (~40k), never corpus².
    "x288_self_bleu" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val ids = d.select(col("doc_id"))
      val pairs = ids.as("a").join(ids.as("b"),
          col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // nDocs = the 200-doc sample bound: the sample's members cover
      // it, so the gate skips the semi-join — after one memberList
      // count() job over the pair frame, paid on every call
      bleuOnPairs(d, pairs, nDocs = 200L)
        .select(when(col("bleu2").isNotNull,
          round(col("bleu2") * 1000000.0, 0).cast("long")).as("b_fp"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("b_fp").isNotNull, 1L).otherwise(0L)).as("n_scored"),
          coalesce(sum(col("b_fp")), lit(0L)).as("s_fp"))
        .select(col("n_pairs"), col("n_scored"),
          when(col("n_scored") > 0L,
            round(col("s_fp").cast("double") /
              (col("n_scored").cast("double") * 1000000.0), 6))
            .as("self_bleu"))
    }),

    // ROUGE-1/2 PAIR GRADING — the recall side of the x239/x259
    // grading trio on the same verified pairs (BLEU: how much of the
    // candidate is copied; ROUGE: how much of the REFERENCE is
    // covered — the contamination-review direction) — see
    // [[rougeOnPairs]].
    "x285_rouge_pairs" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      rougeOnPairs(d, ngramJaccardPairs(lakeStages(spark, sfDir), threshold = 0.5),
        nDocs = Lake.rowCount(spark, sfDir, "documents"))
    }),

    // CHRF2 PAIR GRADING — the tokenization-free character-F twin
    // of x239 on the same verified pairs and the same shingle
    // artifact (BLEU-2 and chrF2 disagreeing on a pair is the
    // classic whitespace-corruption signature) — see [[chrfOnPairs]].
    "x259_chrf_pairs" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      chrfOnPairs(d, ngramJaccardPairs(lakeStages(spark, sfDir), threshold = 0.5),
        nDocs = Lake.rowCount(spark, sfDir, "documents"))
    }),

    // LSH S-CURVE CALIBRATION — the threshold-tuning diagnostic the
    // whole minhash family hangs on: over a deterministic 200-doc
    // sample, EVERY overlapping pair's exact Jaccard is binned and
    // compared against the empirical banding collision rate and the
    // theoretical S-curve 1−(1−s^r)^b (r=2 rows, b=4 bands). The
    // minhash here is the fully-oracle-able twin: shingles map to
    // dense integer ids (one bounded vocabulary window), each hash is
    // a frozen affine map mod 2³¹−1, band keys are exact 62-bit
    // packs — no engine hash anywhere, so the whole curve
    // hash-matches DuckDB. Theory evaluates by repeated
    // multiplication (never pow — libm-divergence-proof). Reading
    // the table tells you which Jaccard band the banding parameters
    // actually recall — the number a dedup-threshold review wants.
    "x267_lsh_s_curve" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val P = 2147483647L
      val d = docs(spark, sfDir).filter(col("doc_id") < 200)
      val sh = shingleTable(d).distinct()
      // bounded single-partition window: the SAMPLE vocabulary only
      val ids = sh.select(col("shingle")).distinct()
        .withColumn("sid",
          row_number().over(Window.orderBy(col("shingle"))).cast("long"))
      val sidTab = sh.join(ids, "shingle").select(col("doc_id"), col("sid"))
      val sigCols = (0 until 8).map { s =>
        val a = (1103515245L * (s + 1)) % P
        val b = 12345L * (s + 1)
        min((col("sid") * a + b) % P).as(s"h$s")
      }
      val sigs = sidTab.groupBy(col("doc_id"))
        .agg(sigCols.head, sigCols.tail: _*)
      val bandRows = sigs.select(col("doc_id"),
          explode(array((0 until 4).map { j =>
            struct(lit(j).as("band"),
              (col(s"h${2 * j}") * lit(2147483648L) + col(s"h${2 * j + 1}"))
                .as("bk"))
          }: _*)).as("p"))
        .select(col("doc_id"), col("p.band").as("band"), col("p.bk").as("bk"))
      val cands = bandRows.as("a").join(bandRows.as("b"),
          col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = sh.as("x").join(sh.as("y"),
          col("x.shingle") === col("y.shingle") &&
            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("c"))
      def dd(c: Column) = c.cast("double")
      inter
        .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")),
          "doc_a")
        .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")),
          "doc_b")
        .withColumn("jac", dd(col("c")) / dd(col("na") + col("nb") - col("c")))
        .join(cands.withColumn("is_cand", lit(1L)),
          Seq("doc_a", "doc_b"), "left")
        .withColumn("bin",
          least(floor(col("jac") * 10).cast("int"), lit(9)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(coalesce(col("is_cand"), lit(0L))).as("n_cand"))
        .withColumn("s_mid", (col("bin").cast("double") + 0.5) / 10.0)
        .withColumn("t1", lit(1.0) - col("s_mid") * col("s_mid"))
        .select(col("bin"), col("n_pairs"), col("n_cand"),
          round(dd(col("n_cand")) / dd(col("n_pairs")), 4).as("cand_rate"),
          round(lit(1.0) -
            col("t1") * col("t1") * col("t1") * col("t1"), 4).as("p_theory"))
        .orderBy(col("bin"))
    }),

    // FELLEGI–SUNTER RECORD LINKAGE — probabilistic entity resolution
    // (the 1969 model behind every serious dedup/linkage system) on
    // top of the x05 blocking chain: candidates come from the capped
    // shingle join at a RECALL threshold (0.3 — blocking is allowed
    // to over-generate; that is its job), then each pair is scored by
    // field-agreement evidence instead of text overlap alone —
    // ln(m/u) log-likelihood weights where a match on a RARE
    // configuration (u small) earns more than on a common one, the
    // exact reason "same language" is weak evidence and "same
    // length-bucket" strong. m estimates from the jaccard ≥ 0.7
    // confident subset (deterministic one-step EM stand-in), u
    // exactly from the field marginals; add-1 smoothing keeps every
    // weight finite (see [[fellegiSunter]]). Scale: candidates are
    // the banded x05 volume, stats are 1-row broadcasts, scoring is
    // map work — the top-20 readout is TakeOrdered, never a global
    // sort.
    "x150_record_linkage" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val meta = d.select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars DIV 50").as("len_b"))
      val cand = ngramJaccardPairs(lakeStages(spark, sfDir), threshold = 0.3)
      fellegiSunter(cand, meta)
        .orderBy(desc("score_fp"), col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    // ASYMMETRIC CONTAINMENT — the partial-copy detector (see
    // containmentPairs scaladoc); shares x05's lake-checkpointed
    // shingle artifact, so repeat invocations of either query read
    // one parquet table. Threshold 0.9: the inner doc's capped
    // shingle set must be ≥ 90% covered by the outer's. The corpus
    // carries natural containment pairs (x74's truncation family is
    // the prefix-positioned subset), so no injection is needed.
    "x97_containment_dedup" -> ((spark, sfDir) =>
      containmentPairs(lakeStages(spark, sfDir), threshold = 0.9)
        .orderBy(col("inner_id"), col("outer_id"))),

    // FULL-PIPELINE COMPOSITION — the capstone: curation (quality
    // gates + near-dup survivor filter, x19) → stratified language
    // mix (x20's deterministic Weyl thresholds) → sequence-packing
    // accounting (x27's distributed prefix scan) as ONE registered
    // operator, proving the stages compose at the API level with the
    // oracle composed from the same verified pieces. Scale shape is
    // the union of its parts: map-work gates, one anti-join vs the
    // (small) non-survivor set, stateless sampling, one range shuffle
    // for the two-pass scan.
    "x30_pipeline_compose" -> ((spark, sfDir) => {
      import spark.implicits._
      val mixed = curatedStats(spark, sfDir)
        .filter(Sampling.sampleHash(col("doc_id")) < Sampling.langMixThreshold)
      val rows = mixed.select(col("doc_id").as("id"),
        col("source").as("group"), col("n_tokens").cast("long").as("value"))
        .as[graft.operators.Prefix.ScanRow]
      val chunk = Sampling.PackChunkTokens
      graft.operators.Prefix
        .runningSum(rows, spark.sessionState.conf.numShufflePartitions)
        .select(col("id").as("doc_id"), col("group").as("source"),
          col("value").as("n_tokens"),
          expr(s"(running - value) DIV $chunk").as("first_chunk"),
          expr(s"(running - 1) DIV $chunk").as("last_chunk"))
        .orderBy(col("doc_id"))
    }),

    // BENCHMARK-CONTAMINATION SCREEN — the decontamination step of a
    // training pipeline: flag corpus documents sharing any verbatim
    // 8-gram with a held-out benchmark set. The benchmark here is the
    // deterministic 5% slice doc_id % 20 == 0 (standing in for an
    // external eval set), so the overlap semantics are fully
    // SQL-expressible and the oracle is exact.
    "x25_contamination_screen" -> ((spark, sfDir) =>
      sliceScreen(spark, sfDir).orderBy(col("doc_id"))),

    // CONTAMINATION FRACTION — x25's metric form: the per-doc share of
    // 8-gram shingles overlapping the benchmark sample, thresholded at
    // 20% (the published decontamination rules act on this fraction,
    // not on any-overlap). Same broadcast screen shape as x25.
    "x60_contamination_fraction" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      contaminationFraction(
        d.select(col("doc_id"), col("text")),
        d.filter(col("doc_id") % 20 === 0).select(col("doc_id"), col("text")),
        n = 8, threshold = 0.2)
        .orderBy(col("doc_id"))
    }),

    // x25's screen under its former bloom-variant name: a bloom
    // pre-filter in front of a broadcast hash probe only added work,
    // so both names run the one screen and share one oracle.
    "x32_bloom_contamination" -> ((spark, sfDir) =>
      sliceScreen(spark, sfDir).orderBy(col("doc_id"))),

    // INCREMENTAL-INGEST dedup: the 10% slice doc_id % 10 == 9 stands
    // in for a newly-arrived batch, the rest for the standing corpus;
    // each batch doc is classified dup-in-corpus / dup-in-batch /
    // survivor without a full corpus shuffle (bloom built over the
    // batch, probed on the corpus scan).
    "x33_incremental_dedup" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      incrementalDedup(
        d.filter(col("doc_id") % 10 =!= 9).select(col("doc_id"), col("text")),
        d.filter(col("doc_id") % 10 === 9).select(col("doc_id"), col("text")))
        .orderBy(col("doc_id"))
    }),

    // QUALITY-AWARE SURVIVOR SELECTION — the dedup policy upgrade a
    // real curation pipeline runs: within each near-dup component,
    // keep the highest-QUALITY member (stopword density, the x10
    // signal; ties break to the lower doc_id), not the arbitrary
    // min-id representative x18 keeps. Unpaired docs survive by
    // default. Scale shape: the component table is lake-checkpointed
    // and tiny relative to the corpus (paired docs only); the quality
    // rank is a window over components — bounded by component size,
    // never by corpus size — and the final left join is doc-keyed.
    "x40_quality_survivor" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val sr = d.select(col("doc_id"),
        TextAnalysis.stopwordRatio(tokens).as("sr"))
      val ranked = componentTable(spark, sfDir)
        .select(col("v").as("doc_id"), col("label").as("component"))
        .join(sr, "doc_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("component"))
            .orderBy(col("sr").desc, col("doc_id"))))
        .select(col("doc_id"), col("component"), col("rn"))
      d.select(col("doc_id")).join(ranked, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"),
          coalesce(col("rn") === 1, lit(true)).as("is_survivor"))
        .orderBy(col("doc_id"))
    }),

    // DECONTAMINATION — the removal step the screen (x25/x32) feeds:
    // the clean corpus with every flagged document dropped. Scale
    // shape: x25's broadcast screen yields the small flagged set; the
    // removal is ONE left-anti join against it (AQE broadcasts it),
    // so the corpus passes through a single scan + screen, never a
    // second full shuffle.
    "x36_decontaminate" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val flagged = sliceScreen(spark, sfDir)
        .filter(col("contaminated"))
        .select(col("doc_id"))
      d.join(flagged, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // PASSAGE-LEVEL exact dedup: the sub-document pass that
    // document-level exact dedup (x01) cannot see, catching
    // boilerplate and copied passages. The passage table feeds both
    // the occurrence count and the per-doc join side, so it is
    // lake-checkpointed like x05's shingle table — each branch reads
    // one compact parquet table instead of re-tokenizing the corpus.
    "x31_passage_dedup" -> ((spark, sfDir) =>
      passageDupStatsFrom(Lake.materialize(spark, sfDir, X31Passages))
        .orderBy(col("doc_id"))),

    // Cross-source passage-overlap matrix (dataset-card provenance
    // report). Shares x31's lake-checkpointed passage table — repeat
    // invocations of either query read one parquet artifact.
    "x43_source_overlap" -> ((spark, sfDir) => {
      sourceOverlap(Lake.materialize(spark, sfDir, X31Passages),
        docs(spark, sfDir).select(col("doc_id"), col("source")))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // MEDOID ELECTION — the most-representative survivor per near-dup
    // cluster (see clusterMedoids scaladoc): exact-integer
    // shared-shingle mass, window bounded by cluster size.
    "x103_cluster_medoid" -> ((spark, sfDir) =>
      clusterMedoids(spark, sfDir).orderBy(col("component"))),

    // CONTRASTIVE TRIPLET MINING — the dataset-construction step
    // that turns curation artifacts into training data: for each
    // near-dup anchor, (anchor, positive, negative) where the
    // positive is its thresholded near-dup partner (min doc_id for
    // determinism) and the negative is the HARDEST embedding
    // neighbor OUTSIDE the anchor's duplicate cluster — confusable
    // but genuinely different, the triplet an embedding model's
    // margin is trained on. Composes three existing lake artifacts
    // (x05 shingle pairs, x18 components, embeddings) with one
    // broadcast of the model-sized anchor frame against one
    // embedding scan; per-anchor argmax in a |anchors|-partition
    // window under x07's rounding/tiebreak contract. Cluster
    // exclusion is null-safe (a singleton candidate has no label;
    // IS-DISTINCT-FROM keeps it eligible).
    "x104_contrastive_triplets" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Lake.materialize(spark, sfDir, X18Pairs)
      val comps = componentTable(spark, sfDir)
        .select(col("v"), col("label"))
      val ev = Lake.table(spark, sfDir, "embeddings")
      val anchors = pairs.groupBy(col("doc_a"))
        .agg(min(col("doc_b")).as("positive_id"))
      val aFull = broadcast(anchors
        .join(comps.select(col("v").as("doc_a"), col("label").as("alabel")),
          Seq("doc_a"), "left")
        .join(ev.select(col("vec_id").as("doc_a"), col("embedding").as("avec")),
          "doc_a"))
      val cand = ev.select(col("vec_id"), col("embedding"))
        .join(comps.select(col("v").as("vec_id"), col("label").as("clabel")),
          Seq("vec_id"), "left")
      val w = Window.partitionBy(col("doc_a")).orderBy(desc("cos"), col("vec_id"))
      cand.join(aFull,
          col("vec_id") =!= col("doc_a") && !(col("clabel") <=> col("alabel")))
        .select(col("doc_a"), col("positive_id"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("avec")), 4).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_a").as("anchor_id"), col("positive_id"),
          col("vec_id").as("negative_id"), col("cos").as("neg_cos"))
        .orderBy(col("anchor_id"))
    }),

    // LEAKAGE-FREE SPLIT — x53's deterministic 98/1/1 holdout with
    // the guarantee a random doc-grain split cannot give: near-dup
    // CLUSTERS never straddle the train/eval boundary. The split key
    // is the x18 component label (cluster min-id; singletons key on
    // themselves), so every member of a duplicate cluster hashes to
    // the same side — the eval set can't be contaminated by a
    // training doc's near-copy, which is the leak that silently
    // inflates held-out metrics. Same Weyl-hash thresholds as x53
    // (exact integer, stable under incremental ingest); one
    // left join against the model-sized component table.
    "x107_leakage_free_split" -> ((spark, sfDir) => {
      val t1 = Sampling.HashMod * 98L / 100L
      val t2 = Sampling.HashMod * 99L / 100L
      val comps = componentTable(spark, sfDir)
        .select(col("v").as("doc_id"), col("label"))
      docs(spark, sfDir).select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("split_key"))
        .select(col("doc_id"), col("split_key"),
          when(Sampling.sampleHash(col("split_key")) < t1, "train")
            .when(Sampling.sampleHash(col("split_key")) < t2, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    }),

    // DEDUP SAVINGS LADDER — the dataset-card headline number: how
    // many documents/tokens survive at each dedup aggressiveness
    // level (raw → byte-exact → near-dup cluster), and what each
    // level saves vs raw. Exact survivors are keep-first per
    // normalized key (x01/x02's contract); near-dup survivors are
    // the x18 component representatives (exact dups fold into the
    // same cluster since identical docs share every shingle, so the
    // ladder is cumulative). Three 1-row aggregates over one doc
    // scan + the model-sized component join; savings_pct is one
    // identical float chain over exact integer token sums.
    "x108_dedup_savings" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir).select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      def level(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
          .select(lit(name).as("level"), col("n_docs"), col("n_tokens"))
      val wx = Window.partitionBy(lower(trim(col("text")))).orderBy(col("doc_id"))
      val exact = d.withColumn("rn", row_number().over(wx)).filter(col("rn") === 1)
      val comps = componentTable(spark, sfDir)
        .select(col("v").as("doc_id"), col("label"))
      val nearDup = d.join(comps, Seq("doc_id"), "left")
        .filter(col("label").isNull || col("label") === col("doc_id"))
      val rt = broadcast(d.agg(sum(col("tok")).as("rtok")))
      level("1_raw", d)
        .unionByName(level("2_exact", exact))
        .unionByName(level("3_near_dup", nearDup))
        .crossJoin(rt)
        .select(col("level"), col("n_docs"), col("n_tokens"),
          round(lit(100.0) * (lit(1.0) -
            col("n_tokens").cast("double") / col("rtok")), 4).as("savings_pct"))
        .orderBy(col("level"))
    }),

    // THRESHOLD SENSITIVITY CURVE — the report behind the dedup
    // config decision: how many near-dup pairs and affected docs
    // exist at jaccard ≥ 0.5 / 0.7 / 0.9, from ONE pass over the
    // capped shingle join (the thresholds are filters over the same
    // jaccard column, not three re-joins). Reading the curve is how
    // a pipeline picks x05's production threshold: a cliff between
    // 0.5 and 0.7 means boilerplate-heavy pairs dominate; a flat
    // curve means true duplicates. Per-threshold affected-doc counts
    // are exact distinct counts over the (small) pair table.
    "x109_threshold_curve" -> ((spark, sfDir) => {
      val wp = ngramJaccardPairs(lakeStages(spark, sfDir), threshold = 0.5)
      Seq(0.5, 0.7, 0.9).map { t =>
        val f = wp.filter(col("jaccard") >= t)
        val members = f.select(col("doc_a").as("d"))
          .unionByName(f.select(col("doc_b").as("d")))
        f.agg(count(lit(1)).as("n_pairs"))
          .crossJoin(broadcast(
            members.agg(countDistinct(col("d")).as("n_docs_affected"))))
          .select(lit(t).as("threshold"), col("n_pairs"), col("n_docs_affected"))
      }.reduce(_ unionByName _)
        .orderBy(col("threshold"))
    }),

    // SURVIVORSHIP CONSOLIDATION — dedup that PRESERVES provenance
    // instead of discarding it: per exact-dup cluster (x01's
    // normalized key) the survivor record carries the union of
    // sources and languages the duplicate copies arrived from, plus
    // the widest raw length — the metadata a dataset card needs
    // ("this text appears in CC and books") that a plain keep-first
    // dedup throws away. Same single-shuffle hash-groupBy scale shape
    // as x01; the set-valued columns aggregate per cluster (bounded
    // by the source/lang alphabets), serialized sorted so the result
    // is engine-deterministic.
    "x67_dedup_consolidate" -> ((spark, sfDir) =>
      consolidate(docs(spark, sfDir)).orderBy(col("keep_id")))
  )

  /** Survivorship merge over exact-dup clusters (x67's body, exposed
    * so tests can feed planted frames): one survivor row per
    * normalized text carrying the sorted provenance union.
    */
  def consolidate(df: DataFrame): DataFrame =
    df.groupBy(normText.as("norm"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_dupes"),
        array_join(array_sort(collect_set(col("source"))), ",").as("sources"),
        array_join(array_sort(collect_set(col("lang"))), ",").as("langs"),
        max(col("n_chars")).as("max_chars"))
      .select(col("keep_id"), col("n_dupes"), col("sources"),
        col("langs"), col("max_chars"))

  /** Per-document passage-duplication stats: cut `text` into fixed
    * `p`-word non-overlapping chunks and count, per document, its
    * passages and how many of them occur more than once in the corpus
    * (within OR across documents). Scale shape: the passage table is
    * ~n_words/p rows; occurrence counting is one hash groupBy
    * (map-side partial) and the flag is an equi-join back on the
    * passage — no pair enumeration at any granularity. The chunking
    * builds passages with transform+slice on the token array (no
    * per-word explode, no collect_list ordering hazard). A trailing
    * short chunk (< p words) is a passage too, so every word is
    * accounted for.
    */
  def passageDupStats(df: DataFrame, p: Int = 8): DataFrame =
    passageDupStatsFrom(passageTable(df, p))

  /** [[passageDupStats]] over a prebuilt passage table — the registered
    * query reads [[X31Passages]], so its two consumers scan one
    * parquet table.
    */
  def passageDupStatsFrom(passages: DataFrame): DataFrame = {
    val occ = passages.groupBy(col("passage"))
      .agg(count(lit(1)).as("n_occ"))
    passages.join(occ, "passage")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_passages"))
  }

  /** The (doc_id, passage) table behind [[passageDupStats]] and
    * [[sourceOverlap]]: non-overlapping `p`-word chunks, trailing
    * short chunk included so every word is accounted for. The
    * tokenization happens ONCE into a projected column: HOF lambda
    * bodies are evaluated per element with no loop-invariant
    * hoisting, so split() inside the lambda would re-tokenize the
    * whole document for every chunk (O(words x chunks) per doc).
    */
  def passageTable(df: DataFrame, p: Int = 8): DataFrame =
    df.withColumn("_toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, (size(_toks) - 1) DIV $p), " +
            s"i -> array_join(slice(_toks, i * $p + 1, $p), ' '))"))
          .as("passage"))

  /** The 8-word passage table x31 and x43 share. */
  val X31Passages: Derived = Derived("x31_passages")((spark, sfDir) =>
    passageTable(docs(spark, sfDir)))

  /** Cross-source passage-overlap matrix — the provenance half of a
    * dataset card: for every source pair, how many distinct `p`-word
    * passages they share, and the passage-set Jaccard. The input is
    * the same passage table x31 checkpoints; `sources` maps doc_id →
    * source. Scale shape: candidates come from ONE equi-join on the
    * passage string over the DISTINCT (source, passage) table, so a
    * passage's join-group is bounded by the number of sources (a
    * model-sized constant), never by its corpus-wide occurrence
    * count; the per-source size table is sources-sized and broadcast.
    * No pair enumeration at document granularity anywhere.
    */
  def sourceOverlap(passages: DataFrame, sources: DataFrame): DataFrame = {
    val sp = passages.join(sources, "doc_id")
      .select(col("source"), col("passage")).distinct()
    val sz = broadcast(sp.groupBy(col("source")).agg(count(lit(1)).as("n")))
    val a = sp.select(col("source").as("source_a"), col("passage"))
    val b = sp.select(col("source").as("source_b"), col("passage"))
    a.join(b, "passage")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sz.select(col("source").as("source_a"), col("n").as("_na")), "source_a")
      .join(sz.select(col("source").as("source_b"), col("n").as("_nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("_na") + col("_nb") - col("n_shared")), 4).as("jaccard"))
  }

  /** [[sliceScreen]]'s oracle (x25, and x32 under its alias): 8-gram
    * overlap against the deterministic benchmark slice, mirroring
    * contaminationScreen exactly (distinct shingles per doc,
    * self-pairs excluded, zero-filled left join).
    */
  private val sliceScreenOracle =
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM tok), " +
      "sh AS (SELECT DISTINCT doc_id, list_reduce(w[i:i+7], (a, b) -> a || ' ' || b) AS g FROM idx), " +
      "bench AS (SELECT doc_id AS b_id, g FROM sh WHERE doc_id % 20 = 0), " +
      "hits AS (SELECT sh.doc_id, COUNT(DISTINCT sh.g) AS n_shared FROM sh " +
      "JOIN bench ON sh.g = bench.g AND sh.doc_id != bench.b_id GROUP BY 1) " +
      "SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared, " +
      "COALESCE(h.n_shared, 0) > 0 AS contaminated " +
      "FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id ORDER BY d.doc_id"

  val oracles: Map[String, String] = Map(
    // the x05 shingle/cap chain at the 0.3 blocking threshold (the
    // ROUNDED jaccard compare mirrors the Spark side exactly), field
    // agreements, the confident-subset m stats, exact-marginal u
    // stats, and the smoothed ln(m/u) weights on the 10^6 grid
    "x150_record_linkage" -> {
      def wA(ma: String, un: String): String =
        s"CAST(ROUND(LN(CAST(($ma + 1) * (nn * nn + 2) AS DOUBLE) / " +
          s"CAST((mn + 2) * ($un + 1) AS DOUBLE)) * 1000000.0) AS BIGINT)"
      def wD(ma: String, un: String): String =
        s"CAST(ROUND(LN(CAST((mn + 1 - $ma) * (nn * nn + 2) AS DOUBLE) / " +
          s"CAST((mn + 2) * (nn * nn + 1 - $un) AS DOUBLE)) * 1000000.0) AS BIGINT)"
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
        "tot AS (SELECT COUNT(*) AS n_docs FROM documents), " +
        "keep AS (SELECT shingle FROM sh0, tot GROUP BY shingle, n_docs " +
        "HAVING COUNT(*) <= GREATEST(50, n_docs // 100)), " +
        "sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)), " +
        "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "cand AS (SELECT doc_a, doc_b, " +
        "ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard " +
        "FROM inter JOIN sz sa ON sa.doc_id = doc_a " +
        "JOIN sz sb ON sb.doc_id = doc_b " +
        "WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) >= 0.3), " +
        "meta AS (SELECT doc_id, lang, source, n_chars // 50 AS len_b FROM documents), " +
        "p AS (SELECT doc_a, doc_b, jaccard, a.lang = b.lang AS agree_lang, " +
        "a.source = b.source AS agree_source, a.len_b = b.len_b AS agree_len " +
        "FROM cand JOIN meta a ON doc_a = a.doc_id " +
        "JOIN meta b ON doc_b = b.doc_id), " +
        "ms AS (SELECT CAST(COUNT(*) AS BIGINT) AS mn, " +
        "CAST(COALESCE(SUM(CASE WHEN agree_lang THEN 1 ELSE 0 END), 0) AS BIGINT) AS ml, " +
        "CAST(COALESCE(SUM(CASE WHEN agree_source THEN 1 ELSE 0 END), 0) AS BIGINT) AS msrc, " +
        "CAST(COALESCE(SUM(CASE WHEN agree_len THEN 1 ELSE 0 END), 0) AS BIGINT) AS mb " +
        "FROM p WHERE jaccard >= 0.7), " +
        "ul AS (SELECT CAST(SUM(n * n) AS BIGINT) AS ul FROM " +
        "(SELECT COUNT(*) AS n FROM documents GROUP BY lang)), " +
        "us AS (SELECT CAST(SUM(n * n) AS BIGINT) AS us FROM " +
        "(SELECT COUNT(*) AS n FROM documents GROUP BY source)), " +
        "ub AS (SELECT CAST(SUM(n * n) AS BIGINT) AS ub FROM " +
        "(SELECT COUNT(*) AS n FROM documents GROUP BY n_chars // 50)), " +
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents) " +
        "SELECT doc_a, doc_b, agree_lang, agree_source, agree_len, " +
        s"(CASE WHEN agree_lang THEN ${wA("ml", "ul")} ELSE ${wD("ml", "ul")} END + " +
        s"CASE WHEN agree_source THEN ${wA("msrc", "us")} ELSE ${wD("msrc", "us")} END + " +
        s"CASE WHEN agree_len THEN ${wA("mb", "ub")} ELSE ${wD("mb", "ub")} END) AS score_fp " +
        "FROM p, ms, ul, us, ub, g " +
        "ORDER BY score_fp DESC, doc_a, doc_b LIMIT 20"
    },
    "x01_dedup_exact" ->
      ("SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes FROM documents " +
        "GROUP BY LOWER(TRIM(text)) ORDER BY keep_id"),
    "x02_dedup_exact_rows" ->
      ("SELECT doc_id, lang, source, n_chars FROM (" +
        "SELECT doc_id, lang, source, n_chars, ROW_NUMBER() OVER (" +
        "PARTITION BY LOWER(TRIM(text)) ORDER BY doc_id) AS rn FROM documents) t " +
        "WHERE rn = 1 ORDER BY doc_id"),
    // same noise construction and canon pipeline; DuckDB regexes need
    // the explicit 'g' flag where Spark's regexp_replace is global
    "x71_canonical_dedup" ->
      ("WITH u AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, " +
        "'  ' || regexp_replace(UPPER(text), ' ', ' , ', 'g') || ' !! ' " +
        "FROM documents), " +
        "c AS (SELECT doc_id, text, TRIM(regexp_replace(regexp_replace(" +
        "LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon FROM u) " +
        "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_members, " +
        "COUNT(DISTINCT text) AS n_raw_forms " +
        "FROM c GROUP BY canon ORDER BY keep_id"),
    // same reversed-twin construction; md5-of-sorted-tokens agrees
    // byte-for-byte (ASCII word soup, binary collation both engines)
    "x82_bow_dedup" ->
      ("WITH u AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 2000000, " +
        "array_to_string(list_reverse(string_split(text, ' ')), ' ') " +
        "FROM documents), " +
        "c AS (SELECT doc_id, text, " +
        "md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bow " +
        "FROM u) " +
        "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_members, " +
        "COUNT(DISTINCT text) AS n_orderings " +
        "FROM c GROUP BY bow ORDER BY keep_id"),
    // x03/x04 are sketch-based (xxhash64-seeded) — not reproducible in
    // SQL; they get the driver's rows-only check plus our own unit
    // tests against x05's exact ground truth. x57 closes the gap for
    // the MACHINERY: engine-constructible signatures make the banding
    // candidate set and the verify arithmetic exactly oracle-able
    // (band 0 collides ⇔ doc_id ≡ mod 10; positions 6-7 unique so
    // band 1 never collides; est_jaccard = (4 + 2·[≡ mod 3])/8).
    "x57_minhash_verify_exact" ->
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 300), " +
        "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM d a JOIN d b " +
        "ON a.doc_id % 10 = b.doc_id % 10 AND a.doc_id < b.doc_id), " +
        "v AS (SELECT doc_a, doc_b, " +
        "(4 + CASE WHEN doc_a % 3 = doc_b % 3 THEN 2 ELSE 0 END) / 8.0 " +
        "AS est_jaccard FROM p) " +
        "SELECT doc_a, doc_b, est_jaccard FROM v " +
        "WHERE est_jaccard >= 0.6 ORDER BY doc_a, doc_b"),
    // same sh/inter/sz chain as x05 (the CTE body's `pairs` is unused
    // here); both directions of each unordered pair tested, ratio of
    // exact counts — one division + 4 dp
    "x97_containment_dedup" ->
      ("WITH " + NgramPairsCteBody +
        ", cont AS (SELECT doc_a, doc_b, c, sa.n AS na, sb.n AS nb " +
        "FROM inter JOIN sz sa ON sa.doc_id = doc_a " +
        "JOIN sz sb ON sb.doc_id = doc_b), " +
        "d AS (SELECT doc_a AS inner_id, doc_b AS outer_id, " +
        "ROUND(CAST(c AS DOUBLE) / na, 4) AS containment FROM cont " +
        "WHERE CAST(c AS DOUBLE) / na >= 0.9 " +
        "UNION ALL SELECT doc_b, doc_a, ROUND(CAST(c AS DOUBLE) / nb, 4) " +
        "FROM cont WHERE CAST(c AS DOUBLE) / nb >= 0.9) " +
        "SELECT inner_id, outer_id, containment FROM d " +
        "ORDER BY inner_id, outer_id"),
    // x05's candidate CTE verbatim, then exact clipped gram-count
    // joins and one fixed BP·sqrt expression
    "x239_bleu_pairs" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
        "tot AS (SELECT COUNT(*) AS n_docs FROM documents), " +
        "keep AS (SELECT shingle FROM sh0, tot GROUP BY shingle, n_docs " +
        "HAVING COUNT(*) <= GREATEST(50, n_docs // 100)), " +
        "sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)), " +
        "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pairs AS (SELECT doc_a, doc_b FROM inter " +
        "JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b " +
        "WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5), " +
        "uni AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, unnest(w) AS g FROM tok) t GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len FROM uni GROUP BY 1), " +
        "bi AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, w[i] || ' ' || w[i+1] AS g FROM " +
        "(SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok) t0) t GROUP BY 1, 2), " +
        "c1 AS (SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip1 " +
        "FROM pairs p JOIN uni a ON a.doc_id = p.doc_a " +
        "JOIN uni b ON b.doc_id = p.doc_b AND b.g = a.g GROUP BY 1, 2), " +
        "c2 AS (SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip2 " +
        "FROM pairs p JOIN bi a ON a.doc_id = p.doc_a " +
        "JOIN bi b ON b.doc_id = p.doc_b AND b.g = a.g GROUP BY 1, 2), " +
        "f AS (SELECT p.doc_a, p.doc_b, la.len AS len_a, lb.len AS len_b, " +
        "COALESCE(c1.clip1, 0) AS clip1, COALESCE(c2.clip2, 0) AS clip2 " +
        "FROM pairs p JOIN lens la ON la.doc_id = p.doc_a " +
        "JOIN lens lb ON lb.doc_id = p.doc_b " +
        "LEFT JOIN c1 ON c1.doc_a = p.doc_a AND c1.doc_b = p.doc_b " +
        "LEFT JOIN c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b) " +
        "SELECT doc_a, doc_b, len_a, len_b, clip1, clip2, " +
        "CASE WHEN len_b > 1 THEN " +
        "ROUND((CASE WHEN len_b < len_a THEN " +
        "EXP(1.0 - CAST(len_a AS DOUBLE) / CAST(len_b AS DOUBLE)) ELSE 1.0 END) * " +
        "SQRT((CAST(clip1 AS DOUBLE) / CAST(len_b AS DOUBLE)) * " +
        "(CAST(clip2 AS DOUBLE) / (CAST(len_b AS DOUBLE) - 1.0))), 6) END AS bleu2 " +
        "FROM f ORDER BY doc_a, doc_b"),
    // x239's gram/len CTEs on the 200-doc sample with the explicit
    // ordered-pair cross; per-pair BLEU on the 10^-6 fp grid, one
    // integer-summed mean
    "x288_self_bleu" ->
      ("WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200), " +
        "tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM d), " +
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM d a JOIN d b ON a.doc_id <> b.doc_id), " +
        "uni AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, unnest(w) AS g FROM tok) t GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len FROM uni GROUP BY 1), " +
        "bi AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, w[i] || ' ' || w[i+1] AS g FROM " +
        "(SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok) t0) t GROUP BY 1, 2), " +
        "c1 AS (SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip1 " +
        "FROM pairs p JOIN uni a ON a.doc_id = p.doc_a " +
        "JOIN uni b ON b.doc_id = p.doc_b AND b.g = a.g GROUP BY 1, 2), " +
        "c2 AS (SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip2 " +
        "FROM pairs p JOIN bi a ON a.doc_id = p.doc_a " +
        "JOIN bi b ON b.doc_id = p.doc_b AND b.g = a.g GROUP BY 1, 2), " +
        "f AS (SELECT p.doc_a, p.doc_b, la.len AS len_a, lb.len AS len_b, " +
        "COALESCE(c1.clip1, 0) AS clip1, COALESCE(c2.clip2, 0) AS clip2 " +
        "FROM pairs p JOIN lens la ON la.doc_id = p.doc_a " +
        "JOIN lens lb ON lb.doc_id = p.doc_b " +
        "LEFT JOIN c1 ON c1.doc_a = p.doc_a AND c1.doc_b = p.doc_b " +
        "LEFT JOIN c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b), " +
        "s AS (SELECT CASE WHEN len_b > 1 THEN " +
        "CAST(ROUND(ROUND((CASE WHEN len_b < len_a THEN " +
        "EXP(1.0 - CAST(len_a AS DOUBLE) / CAST(len_b AS DOUBLE)) ELSE 1.0 END) * " +
        "SQRT((CAST(clip1 AS DOUBLE) / CAST(len_b AS DOUBLE)) * " +
        "(CAST(clip2 AS DOUBLE) / (CAST(len_b AS DOUBLE) - 1.0))), 6) * 1000000.0) " +
        "AS BIGINT) END AS b_fp FROM f) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(SUM(CASE WHEN b_fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored, " +
        "CASE WHEN SUM(CASE WHEN b_fp IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN " +
        "ROUND(CAST(COALESCE(SUM(b_fp), 0) AS DOUBLE) / " +
        "(CAST(SUM(CASE WHEN b_fp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0), 6) " +
        "END AS self_bleu FROM s"),
    // x239's pair/gram chain verbatim; the final select reads the
    // recall/F side with the same clipped intersections
    "x285_rouge_pairs" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
        "tot AS (SELECT COUNT(*) AS n_docs FROM documents), " +
        "keep AS (SELECT shingle FROM sh0, tot GROUP BY shingle, n_docs " +
        "HAVING COUNT(*) <= GREATEST(50, n_docs // 100)), " +
        "sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)), " +
        "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pairs AS (SELECT doc_a, doc_b FROM inter " +
        "JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b " +
        "WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5), " +
        "uni AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, unnest(w) AS g FROM tok) t GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len FROM uni GROUP BY 1), " +
        "bi AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, w[i] || ' ' || w[i+1] AS g FROM " +
        "(SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok) t0) t GROUP BY 1, 2), " +
        "c1 AS (SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS i1 " +
        "FROM pairs p JOIN uni a ON a.doc_id = p.doc_a " +
        "JOIN uni b ON b.doc_id = p.doc_b AND b.g = a.g GROUP BY 1, 2), " +
        "c2 AS (SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS i2 " +
        "FROM pairs p JOIN bi a ON a.doc_id = p.doc_a " +
        "JOIN bi b ON b.doc_id = p.doc_b AND b.g = a.g GROUP BY 1, 2), " +
        "f AS (SELECT p.doc_a, p.doc_b, COALESCE(c1.i1, 0) AS i1, " +
        "COALESCE(c2.i2, 0) AS i2, la.len AS len_a, lb.len AS len_b " +
        "FROM pairs p JOIN lens la ON la.doc_id = p.doc_a " +
        "JOIN lens lb ON lb.doc_id = p.doc_b " +
        "LEFT JOIN c1 ON c1.doc_a = p.doc_a AND c1.doc_b = p.doc_b " +
        "LEFT JOIN c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b) " +
        "SELECT doc_a, doc_b, i1, i2, " +
        "CASE WHEN len_a > 0 THEN ROUND(CAST(i1 AS DOUBLE) / CAST(len_a AS DOUBLE), 6) END AS rouge1_r, " +
        "CASE WHEN CAST(len_a AS DOUBLE) > 0.0 AND CAST(len_b AS DOUBLE) > 0.0 AND i1 > 0 THEN " +
        "ROUND(2.0 * (CAST(i1 AS DOUBLE) / CAST(len_b AS DOUBLE)) * " +
        "(CAST(i1 AS DOUBLE) / CAST(len_a AS DOUBLE)) / " +
        "(CAST(i1 AS DOUBLE) / CAST(len_b AS DOUBLE) + " +
        "CAST(i1 AS DOUBLE) / CAST(len_a AS DOUBLE)), 6) ELSE 0.0 END AS rouge1_f, " +
        "CASE WHEN CAST(len_a AS DOUBLE) - 1.0 > 0.0 AND CAST(len_b AS DOUBLE) - 1.0 > 0.0 AND i2 > 0 THEN " +
        "ROUND(2.0 * (CAST(i2 AS DOUBLE) / (CAST(len_b AS DOUBLE) - 1.0)) * " +
        "(CAST(i2 AS DOUBLE) / (CAST(len_a AS DOUBLE) - 1.0)) / " +
        "(CAST(i2 AS DOUBLE) / (CAST(len_b AS DOUBLE) - 1.0) + " +
        "CAST(i2 AS DOUBLE) / (CAST(len_a AS DOUBLE) - 1.0)), 6) ELSE 0.0 END AS rouge2_f " +
        "FROM f ORDER BY doc_a, doc_b"),
    // same dense shingle ids, same frozen affine minhash and 62-bit
    // band packs, same exact-Jaccard bins and multiplication-only
    // theory curve
    "x267_lsh_s_curve" -> {
      val P = 2147483647L
      def af(s: Int) = (1103515245L * (s + 1)) % P
      def bf(s: Int) = 12345L * (s + 1)
      val sigSel = (0 until 8)
        .map(s => s"MIN((sid * ${af(s)} + ${bf(s)}) % $P) AS h$s")
        .mkString(", ")
      val bandSel = (0 until 4)
        .map(j => s"SELECT doc_id, $j AS band, " +
          s"h${2 * j} * 2147483648 + h${2 * j + 1} AS bk FROM sig")
        .mkString(" UNION ALL ")
      "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200), " +
        "tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM d), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
        "ids AS (SELECT shingle, CAST(ROW_NUMBER() OVER (ORDER BY shingle) AS BIGINT) AS sid " +
        "FROM (SELECT DISTINCT shingle FROM sh) t), " +
        "st AS (SELECT doc_id, sid FROM sh JOIN ids USING (shingle)), " +
        s"sig AS (SELECT doc_id, $sigSel FROM st GROUP BY 1), " +
        s"bnd AS ($bandSel), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM bnd a JOIN bnd b ON a.band = b.band AND a.bk = b.bk " +
        "AND a.doc_id < b.doc_id), " +
        "sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM sh x JOIN sh y " +
        "ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        "pr AS (SELECT inter.doc_a, inter.doc_b, " +
        "CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jac, " +
        "CASE WHEN cand.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand " +
        "FROM inter JOIN sz sa ON sa.doc_id = inter.doc_a " +
        "JOIN sz sb ON sb.doc_id = inter.doc_b " +
        "LEFT JOIN cand ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b), " +
        "bb AS (SELECT LEAST(CAST(FLOOR(jac * 10) AS INTEGER), 9) AS bin, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(SUM(is_cand) AS BIGINT) AS n_cand " +
        "FROM pr GROUP BY 1), " +
        "f AS (SELECT bin, n_pairs, n_cand, " +
        "(CAST(bin AS DOUBLE) + 0.5) / 10.0 AS s_mid FROM bb), " +
        "g AS (SELECT bin, n_pairs, n_cand, 1.0 - s_mid * s_mid AS t1 FROM f) " +
        "SELECT bin, n_pairs, n_cand, " +
        "ROUND(CAST(n_cand AS DOUBLE) / CAST(n_pairs AS DOUBLE), 4) AS cand_rate, " +
        "ROUND(1.0 - t1 * t1 * t1 * t1, 4) AS p_theory " +
        "FROM g ORDER BY bin"
    },
    // x239's candidate CTEs with the char-trigram multiset and the
    // beta=2 F expression
    "x259_chrf_pairs" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
        "tot AS (SELECT COUNT(*) AS n_docs FROM documents), " +
        "keep AS (SELECT shingle FROM sh0, tot GROUP BY shingle, n_docs " +
        "HAVING COUNT(*) <= GREATEST(50, n_docs // 100)), " +
        "sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)), " +
        "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pairs AS (SELECT doc_a, doc_b FROM inter " +
        "JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b " +
        "WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5), " +
        "tri AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, substring(text, i, 3) AS g FROM " +
        "(SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i " +
        "FROM documents WHERE length(text) >= 3) t0) t GROUP BY 1, 2), " +
        "tts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n3 FROM tri GROUP BY 1), " +
        "it AS (SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS i3 " +
        "FROM pairs p JOIN tri a ON a.doc_id = p.doc_a " +
        "JOIN tri b ON b.doc_id = p.doc_b AND b.g = a.g GROUP BY 1, 2), " +
        "f AS (SELECT p.doc_a, p.doc_b, ta.n3 AS n3_a, tb.n3 AS n3_b, " +
        "COALESCE(it.i3, 0) AS i3 FROM pairs p " +
        "JOIN tts ta ON ta.doc_id = p.doc_a JOIN tts tb ON tb.doc_id = p.doc_b " +
        "LEFT JOIN it ON it.doc_a = p.doc_a AND it.doc_b = p.doc_b) " +
        "SELECT doc_a, doc_b, n3_a, n3_b, i3, " +
        "CASE WHEN n3_a > 0 AND n3_b > 0 THEN " +
        "CASE WHEN 4.0 * (CAST(i3 AS DOUBLE) / CAST(n3_b AS DOUBLE)) + " +
        "CAST(i3 AS DOUBLE) / CAST(n3_a AS DOUBLE) > 0.0 THEN " +
        "ROUND(5.0 * (CAST(i3 AS DOUBLE) / CAST(n3_b AS DOUBLE)) * " +
        "(CAST(i3 AS DOUBLE) / CAST(n3_a AS DOUBLE)) / " +
        "(4.0 * (CAST(i3 AS DOUBLE) / CAST(n3_b AS DOUBLE)) + " +
        "CAST(i3 AS DOUBLE) / CAST(n3_a AS DOUBLE)), 6) ELSE 0.0 END END AS chrf2 " +
        "FROM f ORDER BY doc_a, doc_b"),
    "x05_dedup_ngram_jaccard" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
        "tot AS (SELECT COUNT(*) AS n_docs FROM documents), " +
        "keep AS (SELECT shingle FROM sh0, tot GROUP BY shingle, n_docs " +
        "HAVING COUNT(*) <= GREATEST(50, n_docs // 100)), " +
        "sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)), " +
        "sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard " +
        "FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b " +
        "WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5 ORDER BY doc_a, doc_b"),
    "x25_contamination_screen" -> sliceScreenOracle,
    // x25's shingle CTEs plus the per-doc denominator; the fraction is
    // one exact-integer division and the flag compares the unrounded
    // quotient (bit-identical on both engines) against the threshold
    "x60_contamination_fraction" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM tok), " +
        "sh AS (SELECT DISTINCT doc_id, list_reduce(w[i:i+7], (a, b) -> a || ' ' || b) AS g FROM idx), " +
        "tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1), " +
        "bench AS (SELECT doc_id AS b_id, g FROM sh WHERE doc_id % 20 = 0), " +
        "hits AS (SELECT sh.doc_id, COUNT(DISTINCT sh.g) AS n_shared FROM sh " +
        "JOIN bench ON sh.g = bench.g AND sh.doc_id != bench.b_id GROUP BY 1) " +
        "SELECT d.doc_id, COALESCE(t.n_shingles, 0) AS n_shingles, " +
        "COALESCE(h.n_shared, 0) AS n_shared, " +
        "ROUND(CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / " +
        "GREATEST(COALESCE(t.n_shingles, 0), 1), 4) AS overlap_frac, " +
        "CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / " +
        "GREATEST(COALESCE(t.n_shingles, 0), 1) >= 0.2 AS flagged " +
        "FROM documents d LEFT JOIN tot t ON d.doc_id = t.doc_id " +
        "LEFT JOIN hits h ON d.doc_id = h.doc_id ORDER BY d.doc_id"),
    "x32_bloom_contamination" -> sliceScreenOracle,
    // batch (doc_id % 10 = 9) classified against the standing corpus
    // on the normalized text; in-batch dups by first-doc_id window
    "x33_incremental_dedup" ->
      ("WITH batch AS (SELECT doc_id, LOWER(TRIM(text)) AS norm FROM documents " +
        "WHERE doc_id % 10 = 9), " +
        "corpus AS (SELECT DISTINCT LOWER(TRIM(text)) AS norm FROM documents " +
        "WHERE doc_id % 10 <> 9), " +
        "b AS (SELECT doc_id, norm, ROW_NUMBER() OVER (" +
        "PARTITION BY norm ORDER BY doc_id) AS rn FROM batch) " +
        "SELECT b.doc_id, (c.norm IS NOT NULL) AS dup_in_corpus, " +
        "(b.rn > 1) AS dup_in_batch, " +
        "(c.norm IS NULL AND b.rn = 1) AS survivor " +
        "FROM b LEFT JOIN corpus c USING (norm) ORDER BY b.doc_id"),
    // x25's hit derivation, inverted into the surviving corpus
    "x36_decontaminate" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM tok), " +
        "sh AS (SELECT DISTINCT doc_id, list_reduce(w[i:i+7], (a, b) -> a || ' ' || b) AS g FROM idx), " +
        "bench AS (SELECT doc_id AS b_id, g FROM sh WHERE doc_id % 20 = 0), " +
        "hits AS (SELECT sh.doc_id FROM sh " +
        "JOIN bench ON sh.g = bench.g AND sh.doc_id != bench.b_id GROUP BY 1) " +
        "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d " +
        "WHERE d.doc_id NOT IN (SELECT doc_id FROM hits) ORDER BY d.doc_id"),
    // same components; quality rank = stopword density desc, id asc
    "x40_quality_survivor" ->
      ("WITH RECURSIVE " + ComponentsCteBody +
        ", comp AS (SELECT v AS doc_id, MIN(l) AS component FROM reach GROUP BY v), " +
        "q AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), " +
        "x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) " +
        "/ len(string_split(text, ' ')) AS sr FROM documents), " +
        "r AS (SELECT comp.doc_id, component, ROW_NUMBER() OVER (" +
        "PARTITION BY component ORDER BY q.sr DESC, comp.doc_id) AS rn " +
        "FROM comp JOIN q USING (doc_id)) " +
        "SELECT d.doc_id, COALESCE(r.component, d.doc_id) AS component, " +
        "COALESCE(r.rn = 1, TRUE) AS is_survivor " +
        "FROM documents d LEFT JOIN r USING (doc_id) ORDER BY d.doc_id"),
    // same 8-word non-overlapping chunking via list slicing; dup =
    // any passage occurring more than once corpus-wide
    "x31_passage_dedup" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents), " +
        "c AS (SELECT doc_id, l, unnest(range((len(l)+7)//8)) AS ci FROM d), " +
        "p AS (SELECT doc_id, array_to_string(l[(ci*8+1):(ci*8+8)], ' ') AS passage FROM c), " +
        "s AS (SELECT passage, COUNT(*) AS n_occ FROM p GROUP BY 1) " +
        "SELECT p.doc_id, COUNT(*) AS n_passages, " +
        "CAST(SUM(CASE WHEN s.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages " +
        "FROM p JOIN s USING (passage) GROUP BY 1 ORDER BY 1"),
    // x31's chunk rule + the distinct (source, passage) self-join;
    // one exact-integer division for the jaccard
    "x43_source_overlap" ->
      ("WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents), " +
        "c AS (SELECT source, l, unnest(range((len(l)+7)//8)) AS ci FROM d), " +
        "sp AS (SELECT DISTINCT source, " +
        "array_to_string(l[(ci*8+1):(ci*8+8)], ' ') AS passage FROM c), " +
        "sz AS (SELECT source, COUNT(*) AS n FROM sp GROUP BY 1), " +
        "inter AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared " +
        "FROM sp a JOIN sp b ON a.passage = b.passage AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT source_a, source_b, n_shared, " +
        "ROUND(CAST(n_shared AS DOUBLE) / (za.n + zb.n - n_shared), 4) AS jaccard " +
        "FROM inter JOIN sz za ON za.source = source_a " +
        "JOIN sz zb ON zb.source = source_b ORDER BY source_a, source_b"),
    // same pair definition as x05, then components by transitive
    // reachability (recursive CTE): component = min reachable doc_id —
    // exactly what min-label propagation converges to
    "x18_dedup_components" ->
      ("WITH RECURSIVE " + ComponentsCteBody +
        " SELECT v AS doc_id, MIN(l) AS component, (v = MIN(l)) AS is_survivor " +
        "FROM reach GROUP BY v ORDER BY doc_id"),
    // same 8-token key, hot-key cap and word-boundary containment
    // check; substr is 1-based and byte=char on the ASCII corpus
    "x74_truncation_dedup" ->
      ("WITH d AS (SELECT doc_id, text FROM documents " +
        "WHERE len(string_split(text, ' ')) >= 8), " +
        "k AS (SELECT doc_id, text, " +
        "array_to_string((string_split(text, ' '))[1:8], ' ') AS key8 FROM d), " +
        "tot AS (SELECT COUNT(*) AS n FROM documents), " +
        "keep AS (SELECT key8 FROM k, tot GROUP BY key8, n " +
        "HAVING COUNT(*) <= GREATEST(50, n // 100)) " +
        "SELECT b.doc_id AS short_id, a.doc_id AS long_id, " +
        "length(b.text) AS short_chars, length(a.text) AS long_chars " +
        "FROM k a JOIN keep ON a.key8 = keep.key8 " +
        "JOIN k b ON b.key8 = a.key8 " +
        "WHERE length(a.text) > length(b.text) " +
        "AND substr(a.text, 1, length(b.text)) = b.text " +
        "AND substr(a.text, length(b.text) + 1, 1) = ' ' " +
        "ORDER BY short_id, long_id"),
    // same twin construction (substr composition = Spark's overlay at
    // 5..6); DuckDB's levenshtein is the same unit-cost edit distance
    // as Spark's, so the kept pairs AND the distances agree exactly —
    // the threshold lives in the WHERE here vs Spark's banded 3-arg
    // form, which returns the identical distance for kept pairs
    "x91_edit_distance_dedup" ->
      ("WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8), " +
        "u AS (SELECT doc_id, text FROM d " +
        "UNION ALL SELECT doc_id + 3000000, " +
        "substr(text, 1, 4) || 'qq' || substr(text, 7) FROM d), " +
        // the r15 exact-text pre-collapse, mirrored: identical texts
        // reduce to their MIN-doc_id representative BEFORE blocking
        // (sf0.1 carries real exact-dup texts, so this is semantic,
        // not cosmetic)
        "r AS (SELECT MIN(doc_id) AS doc_id, MIN(text) AS text " +
        "FROM u GROUP BY md5(text)), " +
        "k AS (SELECT doc_id, text, length(text) AS blk_len, " +
        "substr(text, 1, 4) AS blk_pre FROM r), " +
        "keep AS (SELECT blk_len, blk_pre FROM k GROUP BY 1, 2 " +
        "HAVING COUNT(*) <= 64), " +
        "f AS (SELECT k.* FROM k JOIN keep USING (blk_len, blk_pre)) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist " +
        "FROM f a JOIN f b ON a.blk_len = b.blk_len " +
        "AND a.blk_pre = b.blk_pre AND a.doc_id < b.doc_id " +
        "WHERE levenshtein(a.text, b.text) <= 4 " +
        "ORDER BY id_a, id_b"),
    // same shifted-excerpt twin construction (list slice 5..34); the
    // md5 gram keys, diagonal grouping and island arithmetic are all
    // engine-exact, so spans AND their offsets hash-match
    // mirrors spanCandidatePairs' three scale disciplines: exact-text
    // collapse to MIN-doc_id representative, multiplicity-adaptive
    // cap (integer //), keep-first-capEff occurrences per gram
    "x92_span_dedup" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents), " +
        "u AS (SELECT doc_id, l FROM d " +
        "UNION ALL SELECT doc_id + 4000000, l[5:34] FROM d " +
        "WHERE doc_id % 5 = 0 AND len(l) >= 12), " +
        "uc AS (SELECT MIN(doc_id) AS doc_id, l FROM u GROUP BY l), " +
        "g AS (SELECT doc_id, CAST(i AS INTEGER) AS ia, " +
        "md5(array_to_string(l[i:i+7], ' ')) AS g " +
        "FROM (SELECT doc_id, l, unnest(range(1, len(l) - 6)) AS i FROM uc " +
        "WHERE len(l) >= 8)), " +
        "gr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY g " +
        "ORDER BY doc_id, ia) AS rk FROM g), " +
        "cap AS (SELECT GREATEST(64, 4 * (COUNT(*) // " +
        "SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END))) AS cap FROM gr), " +
        "gk AS (SELECT doc_id, ia, g FROM gr, cap WHERE rk <= cap.cap), " +
        "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ia, b.ia AS ib " +
        "FROM gk a JOIN gk b ON a.g = b.g AND a.doc_id < b.doc_id), " +
        "m AS (SELECT *, ia - ib AS diag, CASE WHEN ia - LAG(ia) OVER (" +
        "PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia) = 1 " +
        "THEN 0 ELSE 1 END AS ni FROM p), " +
        "i2 AS (SELECT *, SUM(ni) OVER (PARTITION BY doc_a, doc_b, diag " +
        "ORDER BY ia) AS island FROM m) " +
        "SELECT doc_a, doc_b, MIN(ia) AS a_start, MIN(ib) AS b_start, " +
        "CAST(COUNT(*) + 7 AS BIGINT) AS n_tokens " +
        "FROM i2 GROUP BY doc_a, doc_b, diag, island HAVING COUNT(*) >= 3 " +
        "ORDER BY doc_a, doc_b, a_start, b_start"),
    // same components + weighted pairs re-derived from the shared CTE
    // chain (inter/sz are in the body; weight = Σ intersection count,
    // exact BIGINT — no float sum in the argmax)
    "x103_cluster_medoid" ->
      ("WITH RECURSIVE " + ComponentsCteBody +
        ", lab AS (SELECT v, MIN(l) AS label FROM reach GROUP BY v), " +
        "wp AS (SELECT doc_a, doc_b, c FROM inter " +
        "JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b " +
        "WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5), " +
        "w AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS w FROM (" +
        "SELECT doc_a AS doc_id, c FROM wp " +
        "UNION ALL SELECT doc_b, c FROM wp) GROUP BY 1), " +
        "m AS (SELECT lab.v AS doc_id, lab.label AS component, " +
        "COALESCE(w.w, 0) AS w FROM lab LEFT JOIN w ON w.doc_id = lab.v), " +
        "cs AS (SELECT component, COUNT(*) AS cluster_size FROM m " +
        "GROUP BY 1 HAVING COUNT(*) >= 2), " +
        "r AS (SELECT m.doc_id, m.component, m.w, cs.cluster_size, " +
        "ROW_NUMBER() OVER (PARTITION BY m.component " +
        "ORDER BY m.w DESC, m.doc_id) AS rk FROM m JOIN cs USING (component)) " +
        "SELECT component, doc_id AS medoid_id, cluster_size, " +
        "w AS total_shared FROM r WHERE rk = 1 ORDER BY component"),
    // the shared inter/sz chain with x05's ROUNDED jaccard (the
    // Spark side thresholds the 4 dp value, so the oracle must too)
    "x109_threshold_curve" -> {
      def row(t: String): String =
        s"SELECT CAST($t AS DOUBLE) AS threshold, " +
          s"(SELECT CAST(COUNT(*) AS BIGINT) FROM jac WHERE j >= $t) AS n_pairs, " +
          "(SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM (" +
          s"SELECT doc_a AS d FROM jac WHERE j >= $t " +
          s"UNION ALL SELECT doc_b FROM jac WHERE j >= $t)) AS n_docs_affected"
      "WITH " + NgramPairsCteBody +
        ", jac AS (SELECT doc_a, doc_b, " +
        "ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS j FROM inter " +
        "JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b) " +
        Seq("0.5", "0.7", "0.9").map(row).mkString(" UNION ALL ") +
        " ORDER BY threshold"
    },
    // same three survivor definitions; the savings chain
    // 100·(1 − t/raw) is kept in identical operand order
    "x108_dedup_savings" ->
      ("WITH RECURSIVE " + ComponentsCteBody +
        ", lab AS (SELECT v, MIN(l) AS label FROM reach GROUP BY v), " +
        "d AS (SELECT doc_id, text, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents), " +
        "raw AS (SELECT COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens FROM d), " +
        "ex AS (SELECT COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens FROM (" +
        "SELECT doc_id, tok, ROW_NUMBER() OVER (" +
        "PARTITION BY LOWER(TRIM(text)) ORDER BY doc_id) AS rn FROM d) t WHERE rn = 1), " +
        "nd AS (SELECT COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens " +
        "FROM d LEFT JOIN lab ON lab.v = d.doc_id " +
        "WHERE lab.label IS NULL OR lab.label = d.doc_id), " +
        "u AS (SELECT '1_raw' AS level, n_docs, n_tokens FROM raw " +
        "UNION ALL SELECT '2_exact', n_docs, n_tokens FROM ex " +
        "UNION ALL SELECT '3_near_dup', n_docs, n_tokens FROM nd) " +
        "SELECT level, u.n_docs, u.n_tokens, " +
        "ROUND(100.0 * (1.0 - CAST(u.n_tokens AS DOUBLE) / r.n_tokens), 4) AS savings_pct " +
        "FROM u, raw r ORDER BY level"),
    // same component labels as split keys + x53's exact Weyl-hash
    // thresholds (the constants interpolate from the shared Sampling
    // definitions, so both engines hash the identical integers)
    "x107_leakage_free_split" ->
      ("WITH RECURSIVE " + ComponentsCteBody +
        ", lab AS (SELECT v, MIN(l) AS label FROM reach GROUP BY v), " +
        "k AS (SELECT d.doc_id, COALESCE(lab.label, d.doc_id) AS split_key " +
        "FROM documents d LEFT JOIN lab ON lab.v = d.doc_id) " +
        "SELECT doc_id, split_key, " +
        s"CASE WHEN (split_key * ${Sampling.HashMul}) % ${Sampling.HashMod} < " +
        s"${Sampling.HashMod * 98L / 100L} THEN 'train' " +
        s"WHEN (split_key * ${Sampling.HashMul}) % ${Sampling.HashMod} < " +
        s"${Sampling.HashMod * 99L / 100L} THEN 'val' " +
        "ELSE 'test' END AS split FROM k ORDER BY doc_id"),
    // same pair/component chain + x07's cosine formula; cluster
    // exclusion via IS DISTINCT FROM mirrors the null-safe <=>
    "x104_contrastive_triplets" ->
      ("WITH RECURSIVE " + ComponentsCteBody +
        ", lab AS (SELECT v, MIN(l) AS label FROM reach GROUP BY v), " +
        "anch AS (SELECT doc_a, MIN(doc_b) AS positive_id FROM pairs GROUP BY 1), " +
        "ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v " +
        "FROM embeddings), " +
        "av AS (SELECT a.doc_a, a.positive_id, e.v AS avec, la.label AS alabel " +
        "FROM anch a JOIN ev e ON e.vec_id = a.doc_a " +
        "LEFT JOIN lab la ON la.v = a.doc_a), " +
        "cand AS (SELECT e.vec_id, e.v, lc.label AS clabel FROM ev e " +
        "LEFT JOIN lab lc ON lc.v = e.vec_id), " +
        "sc AS (SELECT av.doc_a, av.positive_id, c.vec_id, " +
        "ROUND(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * avec[i])) / " +
        "(sqrt(list_sum(list_transform(c.v, x -> x * x))) * " +
        "sqrt(list_sum(list_transform(avec, x -> x * x)))), 4) AS cos " +
        "FROM av CROSS JOIN cand c " +
        "WHERE c.vec_id <> av.doc_a AND c.clabel IS DISTINCT FROM av.alabel), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_a " +
        "ORDER BY cos DESC, vec_id) AS rk FROM sc) " +
        "SELECT doc_a AS anchor_id, positive_id, vec_id AS negative_id, " +
        "cos AS neg_cos FROM r WHERE rk = 1 ORDER BY anchor_id"),
    // x18's labels histogrammed twice (CASTs pin HUGEINT sums)
    "x73_dup_cluster_profile" ->
      ("WITH RECURSIVE " + ComponentsCteBody +
        ", lab AS (SELECT v, MIN(l) AS label FROM reach GROUP BY v), " +
        "cs AS (SELECT label, COUNT(*) AS cluster_size FROM lab GROUP BY 1) " +
        "SELECT cluster_size, COUNT(*) AS n_clusters, " +
        "CAST(SUM(cluster_size) AS BIGINT) AS n_docs, " +
        "CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable " +
        "FROM cs GROUP BY cluster_size ORDER BY cluster_size"),
    // same components, composed with the quality gates: curated corpus
    // = quality-passing docs minus non-survivor near-dups
    "x19_curation" ->
      ("WITH RECURSIVE " + ComponentsCteBody +
        ", comp AS (SELECT v AS doc_id, (v = MIN(l)) AS is_survivor " +
        "FROM reach GROUP BY v), " +
        "q AS (SELECT doc_id, lang, n_chars, " +
        "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, " +
        "CAST(len(list_filter(string_split(text, ' '), " +
        "x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) " +
        "/ len(string_split(text, ' ')) AS stop_ratio FROM documents) " +
        "SELECT doc_id, lang, n_chars, n_tokens FROM q " +
        "WHERE stop_ratio >= 0.05 AND n_tokens >= 10 " +
        "AND doc_id NOT IN (SELECT doc_id FROM comp WHERE NOT is_survivor) " +
        "ORDER BY doc_id"),
    // the composed pipeline: x19's curation CTEs -> x20's Weyl-hash
    // mix -> x27's running-sum packing, stage for stage
    "x30_pipeline_compose" ->
      ("WITH RECURSIVE " + ComponentsCteBody +
        ", comp AS (SELECT v AS doc_id, (v = MIN(l)) AS is_survivor " +
        "FROM reach GROUP BY v), " +
        "q AS (SELECT doc_id, lang, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_filter(string_split(text, ' '), " +
        "x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) " +
        "/ len(string_split(text, ' ')) AS stop_ratio FROM documents), " +
        "cur AS (SELECT doc_id, lang, source, n_tokens FROM q " +
        "WHERE stop_ratio >= 0.05 AND n_tokens >= 10 " +
        "AND doc_id NOT IN (SELECT doc_id FROM comp WHERE NOT is_survivor)), " +
        s"mix AS (SELECT * FROM cur WHERE (doc_id * ${Sampling.HashMul}) % ${Sampling.HashMod} < " +
        s"CASE WHEN lang = 'en' THEN ${(Sampling.HashMod * 0.5).toLong} " +
        s"ELSE ${(Sampling.HashMod * 0.2).toLong} END), " +
        "packed AS (SELECT doc_id, source, n_tokens, " +
        "CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running FROM mix) " +
        "SELECT doc_id, source, n_tokens, " +
        s"(running - n_tokens) // ${Sampling.PackChunkTokens} AS first_chunk, " +
        s"(running - 1) // ${Sampling.PackChunkTokens} AS last_chunk " +
        "FROM packed ORDER BY doc_id"),
    // provenance union per dup cluster; lists sorted before join so
    // both engines serialize identically
    "x67_dedup_consolidate" ->
      ("SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes, " +
        "array_to_string(list_sort(list(DISTINCT source)), ',') AS sources, " +
        "array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs, " +
        "MAX(n_chars) AS max_chars FROM documents " +
        "GROUP BY LOWER(TRIM(text)) ORDER BY keep_id")
  )
}
