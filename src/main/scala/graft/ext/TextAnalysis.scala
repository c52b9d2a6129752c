package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Lake
import graft.sources.Lake.Derived

/** Text-analysis operators for the training-data pipeline, over
  * `documents`: quality/length stats, language ID (stopword n-gram
  * heuristic), tokenizer-style counting (whitespace + BPE-ish regex),
  * and rolling-hash document fingerprinting.
  *
  * All per-document — embarrassingly parallel map work with no
  * shuffle except the final ORDER BY; at 100 TB these run as one
  * codegen'd scan stage.
  */
object TextAnalysis {

  private type Q = (SparkSession, String) => DataFrame

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Lake.table(spark, sfDir, "documents")

  private val tokens: Column = split(col("text"), " ")

  /** x79's polynomial-hash constants: prime modulus, char cap, and
    * the precomputed weight table 31^(i-1) mod P — shared between the
    * Spark expression and the DuckDB oracle so the two literals can
    * never drift.
    */
  val HashP = 1000003L
  val HashMaxChars = 64
  val hashWeights: Seq[Long] =
    Iterator.iterate(1L)(w => w * 31 % HashP).take(HashMaxChars).toSeq

  /** English function words — the language-ID signal (shared with the
    * x19 curation pipeline's quality gate).
    */
  val EnStopwords = Seq("a", "the", "of", "and", "to", "in", "is")

  def isStopword(t: Column): Column =
    t.isInCollection(EnStopwords)

  /** Stopword-density ratio of a token array — THE quality signal
    * shared by x10's stats, x11's language ID, x19's curation gate,
    * x38's ensemble, and x40's survivor ranking (one definition, so
    * the gates can never drift apart). Exact integer-count division —
    * deterministic on both engines.
    */
  def stopwordRatio(toks: Column): Column =
    size(filter(toks, t => isStopword(t))).cast("double") / size(toks)

  /** Duplicate positional-3-gram ratio (x26's repetition signal,
    * shared with x38's ensemble gate); 0.0 for docs under 3 tokens.
    */
  def repetitionRatio3(toks: Column): Column = {
    val grams3 = transform(sequence(lit(0), size(toks) - 3),
      i => concat_ws(" ", element_at(toks, i + 1),
        element_at(toks, i + 2), element_at(toks, i + 3)))
    when(size(toks) >= 3,
      (size(grams3) - size(array_distinct(grams3))).cast("double") /
        size(grams3))
      .otherwise(lit(0.0))
  }

  /** BPE-ish token pattern: letter runs, digit runs, or any single
    * non-space symbol.
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** PII patterns for [[redactPii]]. Kept to the regex subset whose
    * semantics agree between Java's engine (Spark codegen) and RE2
    * (the oracle engine): character classes, bounded repetition, no
    * backrefs/lookaround.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+1-[0-9]{3}-[0-9]{4}"

  /** PII scrubbing for a training corpus: replace emails and phone
    * numbers in `textCol` with typed placeholder tags and count what
    * was removed. Pure per-row map work over codegen'd regexp
    * expressions — no UDF, no shuffle; at 100 TB this fuses into the
    * scan's codegen stage like the other text operators.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails",
        size(regexp_extract_all(t, lit(EmailPattern), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(t, lit(PhonePattern), lit(0))))
      .withColumn("redacted",
        regexp_replace(regexp_replace(t, EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>"))
  }

  /** x119's BM25 scorer over an explicit (doc_id, text) frame and a
    * query term list — exposed so tests can plant tf-saturation,
    * length-normalization and idf orderings. k1 = 1.2, b = 0.75 are
    * folded into exact-integer rationals (see the x119 registry
    * comment for the algebra); every per-(term, doc) score is two
    * correctly-rounded divisions at 6 dp, and the per-doc sum rounds
    * at 4 dp. Returns ALL scored docs, unranked — the registry entry
    * adds the top-k.
    */
  def bm25Scores(d: DataFrame, qTerms: Seq[String]): DataFrame =
    bm25FromTf(d.select(col("doc_id"), explode(tokens).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")), qTerms)

  /** The scorer's body over a prebuilt (doc_id, term, tf) frame — the
    * registry entry feeds the lake-checkpointed tf artifact here so
    * the tokenize+aggregate scan never re-runs per consumer.
    */
  def bm25FromTf(tf: DataFrame, qTerms: Seq[String]): DataFrame = {
    val lens = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val g = lens.agg(count(lit(1)).as("n"), sum(col("len")).as("l"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25FromParts(tf, dfreq, lens, g, qTerms)
  }

  /** The scoring stage proper, over the four index artifacts a search
    * system actually maintains — postings (doc, term, tf), document
    * frequencies (term, df), document lengths (doc, len) and the
    * (n, l) corpus counters. Shared by x119 (which derives the parts
    * from the batch tf artifact) and s18 (which maintains each part
    * incrementally and serves from the maintained copies) — the s12
    * shared-readout pattern, so the streaming result is
    * hash-identical to the batch one by construction of the stage,
    * not by coincidence. Serve-time cost: query-term postings only.
    */
  def bm25FromParts(tf: DataFrame, dfreq: DataFrame, lens: DataFrame,
      g: DataFrame, qTerms: Seq[String]): DataFrame =
    bm25Scored(tf.filter(col("term").isin(qTerms: _*)),
      dfreq.filter(col("term").isin(qTerms: _*)), lens, g)

  /** The same scoring over a DYNAMIC query — a 'term' frame instead
    * of a literal list (x125's expansion terms come out of a prior
    * retrieval pass, so they exist only at runtime). df derives from
    * the joined postings; everything else is bm25FromParts verbatim.
    */
  def bm25DynamicFromTf(tf: DataFrame, qterms: DataFrame): DataFrame = {
    val lens = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val g = lens.agg(count(lit(1)).as("n"), sum(col("len")).as("l"))
    val post = tf.join(broadcast(qterms.select(col("term"))), "term")
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Scored(post, dfreq, lens, g)
  }

  private def bm25Scored(post: DataFrame, dfreq: DataFrame,
      lens: DataFrame, g: DataFrame): DataFrame =
    post.join(broadcast(dfreq), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(g))
      .select(col("doc_id"),
        (round(log((col("n") * 2 + 2).cast("double") / (col("df") * 2 + 1)), 6) *
          round((col("tf") * col("l") * 22).cast("double") /
            (col("l") * col("tf") * 10 + col("l") * 3 +
              col("len") * col("n") * 9), 6)).as("s"))
      .groupBy(col("doc_id")).agg(round(sum(col("s")), 4).as("bm25"))

  /** x124's query-likelihood scorer over a prebuilt (doc_id, term,
    * tf) frame: Dirichlet-smoothed LM retrieval,
    * score(d) = Σ_t ln((tf·L + µ·ctf) / (L·(len + µ))) with µ = 2000
    * — exact BIGINT numerator/denominator through ONE ln per (term,
    * doc) cell at 6 dp, per-doc sums at 4 dp. Unlike BM25, a doc
    * missing a query term still scores (the smoothing mass), so the
    * scoring frame is the lens × query-terms SPINE left-joined to the
    * postings — |docs|·|terms| rows, linear in the corpus.
    */
  def qlFromTf(tf: DataFrame, qTerms: Seq[String], mu: Long = 2000L): DataFrame = {
    val lens = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val big = lens.agg(sum(col("len")).as("l"))
    val ctf = tf.filter(col("term").isin(qTerms: _*))
      .groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    lens.crossJoin(broadcast(ctf))
      .join(tf.filter(col("term").isin(qTerms: _*)),
        Seq("doc_id", "term"), "left")
      .crossJoin(broadcast(big))
      .select(col("doc_id"),
        round(log(
          (coalesce(col("tf"), lit(0L)) * col("l") + lit(mu) * col("ctf"))
            .cast("double") /
            (col("l") * (col("len") + lit(mu)))), 6).as("s"))
      .groupBy(col("doc_id")).agg(round(sum(col("s")), 4).as("ql"))
  }

  /** x126's best-window selector over a (doc_id, toks) frame: the
    * `win`-token window with the most query-term hits (earliest start
    * tiebreak). Candidate windows derive from the HITS — each hit at
    * position p votes for starts [max(0, p−win+1), min(p, len−win)] —
    * so enumeration cost is hits·win, never len·win; a 0-hit window
    * can never win for a doc that reached this stage, so skipping
    * non-candidate windows is exact. Start positions are 0-based.
    */
  def snippetWindows(d: DataFrame, qTerms: Seq[String], win: Int): DataFrame = {
    val maxStart = greatest(lit(0), size(col("toks")) - win)
    val counts = d.select(col("doc_id"), col("toks"),
      posexplode(col("toks")))
      .filter(col("col").isin(qTerms: _*))
      .select(col("doc_id"),
        explode(sequence(greatest(lit(0), col("pos") - (win - 1)),
          least(col("pos"), maxStart))).as("start"))
      .groupBy(col("doc_id"), col("start"))
      .agg(count(lit(1)).as("n_hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("n_hits"), col("start"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(d, "doc_id")
      .select(col("doc_id"), col("start").cast("int").as("start"),
        col("n_hits"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(win)))
          .as("snippet"))
  }

  /** The (doc_id, term, tf) term-frequency table the TF-IDF, BM25,
    * query-likelihood, language-model and token-MI readers share: one
    * tokenize+aggregate scan per dataset, whichever reader runs first.
    */
  val TfidfTf: Derived = Derived("tfidf_tf")((spark, sfDir) =>
    docs(spark, sfDir).select(col("doc_id"), explode(tokens).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))

  /** Per-doc mean unigram log-probability (x34's score), shared with
    * the x38 ensemble gate: the corpus's own unigram model over the
    * lake-checkpointed tf table (one artifact, three consumers with
    * x15), scored by a vocabulary-bound join + per-doc aggregate.
    * Rounded at 4 dp — the reproducibility contract both consumers
    * compare on.
    */
  def unigramLogProb(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Lake.materialize(spark, sfDir, TfidfTf)
    val ctf = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val tot = tf.agg(sum(col("tf")).cast("double").as("n_total"))
    tf.join(ctf, "term").crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).cast("long").as("n_tokens"),
        round(
          sum(col("tf") * log(col("ctf").cast("double") / col("n_total")))
            / sum(col("tf")), 4).as("avg_logprob"))
  }

  /** x115's chunker over an explicit (doc_id, text) frame: one row
    * per content-defined chunk with its md5 key — exposed so tests
    * can pin the insertion-resilience property (boundaries attach to
    * tokens, so a prepended token leaves downstream chunks intact).
    */
  def cdcChunkTable(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wArr = hashWeights.mkString("array(", "L, ", "L)")
    val h = s"aggregate(sequence(1, least(length(w), $HashMaxChars)), 0L, " +
      s"(acc, i) -> acc + ascii(substring(w, i, 1)) * element_at($wArr, i))"
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    d.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
      .withColumn("b",
        when(expr(s"pmod(pmod($h, $HashP), 8)") === 0, 1L).otherwise(0L))
      .withColumn("chunk_id", coalesce(sum(col("b")).over(
        byPos.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w")))).as("ck"),
        count(lit(1)).as("n_tokens"))
  }

  /** x111's index-join body over explicit frames — (doc_id, text)
    * and a 1-row phrase frame carrying a 3-term array column `q` —
    * exposed so tests can feed overlapping-occurrence corpora.
    * Occurrences count ALL anchor positions, including overlapping
    * ones (the inverted-index semantics; a non-overlapping scan
    * would undercount "a b a b a" for phrase "a b a").
    */
  def phraseOccurrences(d: DataFrame, phrase: DataFrame): DataFrame = {
    val postings = d
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("term"))
      .crossJoin(phrase)
    def leg(i: Int): DataFrame = postings
      .filter(col("term") === element_at(col("q"), i + 1))
      .select(col("doc_id"), (col("pos") - i).as("base"))
    leg(0).join(leg(1), Seq("doc_id", "base"))
      .join(leg(2), Seq("doc_id", "base"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Misra-Gries heavy hitters with an exact verify pass (x101): the
    * bounded-state answer to "top-k frequent tokens" that a full
    * token-frequency shuffle cannot give at 100 TB vocabulary scale.
    *
    * Pass 1 runs the classic Misra-Gries summary INSIDE each
    * partition with a fixed counter budget m — O(m) memory per task
    * regardless of vocabulary size — and emits only the surviving
    * candidates. The pigeonhole guarantee composes across partitions:
    * any token with global frequency > N/m must exceed n_p/m in at
    * least one partition it appears in, so it survives somewhere and
    * the union of survivors is a SUPERSET of every (N/m)-heavy
    * token. Pass 2 then computes EXACT counts for candidates only
    * (a broadcast semi-join — candidate set ≤ m·partitions rows, vs
    * the full vocabulary) and takes the true top-k.
    *
    * The final output is partition-INDEPENDENT even though the
    * candidate set is not: as long as the guarantee covers the k-th
    * count (top-k counts > N/m — asserted by the caller's choice of
    * m), exact counting of any candidate superset yields the same
    * top-k. That invariant is what the unit test pins under
    * adversarial partitionings.
    */
  def heavyHitters(df: DataFrame, m: Int, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(explode(split(col("text"), " ")).as("t")).as[String]
    val candidates = toks.mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        if (counters.contains(t)) counters(t) += 1L
        else if (counters.size < m) counters(t) = 1L
        else {
          // decrement-all: drop every counter by 1, evict zeros
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counters.keysIterator.foreach { key =>
            val v = counters(key) - 1L
            if (v == 0L) dead += key else counters(key) = v
          }
          dead.foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("t").distinct()
    toks.toDF("t")
      .join(broadcast(candidates), "t")
      .groupBy(col("t")).agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("t"))
      .limit(k)
      .select(col("t").as("token"), col("freq"))
  }

  /** Cross-source LM affinity matrix (x95): mean cross-entropy of
    * each source's token stream under every OTHER source's add-one
    * unigram model — the DSIR-style domain-similarity table that
    * decides which corpora get upweighted toward a target domain.
    * xent(a,b) = −Σ_w c_a(w)·ln P_b(w) / N_a with
    * P_b(w) = (c_b(w)+1)/(N_b+V).
    *
    * The smoothing DECOMPOSES so absent words never need a join row:
    * ln P_b = ln(c_b+1) − ln(N_b+V), and c_b = 0 ⇒ ln(c_b+1) = 0 —
    * so xent(a,b) = ln(N_b+V) − Σ_shared c_a·ln(c_b+1)/N_a, where the
    * Σ runs only over the words a and b SHARE: one inner equi-join of
    * the (source, word, count) table with itself on the word, grouped
    * to S² rows. A naive formulation would outer-join the full
    * vocab × S² cross — this one shuffles a model-sized table once.
    * The S×S spine is a broadcast cross of the per-source totals, so
    * source pairs with no shared vocab still get their
    * (maximally-distant) row. Float discipline: one double product
    * per shared word + a 4 dp round (x34's tolerance argument).
    */
  def domainAffinity(df: DataFrame): DataFrame = {
    val c = df.select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val ns = c.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val v = c.select(col("w")).distinct().agg(count(lit(1)).as("v"))
    val shared = c.select(col("source").as("source_a"), col("w"), col("c").as("ca"))
      .join(c.select(col("source").as("source_b"), col("w"), col("c").as("cb")), "w")
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("ca") * log(col("cb").cast("double") + 1d)).as("s"))
    ns.select(col("source").as("source_a"), col("n").as("na"))
      .crossJoin(broadcast(ns.select(col("source").as("source_b"), col("n").as("nb"))))
      .crossJoin(broadcast(v))
      .join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        round(log((col("nb") + col("v")).cast("double")) -
          coalesce(col("s"), lit(0d)) / col("na"), 4).as("xent"))
  }

  /** Per-doc mean BIGRAM log-probability under the corpus's own
    * add-one-smoothed order-2 model — x46's score, the sequence-aware
    * step up from [[unigramLogProb]]: word salad with a plausible
    * unigram profile scores low here because its transitions are
    * unseen. P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V), V = corpus vocab.
    *
    * Scale shape: the per-doc bigram-count table (doc_id, w1, w2, bf)
    * is lake-checkpointed once for its three consumers (corpus bigram
    * counts, first-word counts, the per-doc join); both model tables
    * come off it with ONE partial-aggregatable hash agg each, are
    * pre-joined into a single model-sized lookup so the doc-grain
    * table shuffles once (not twice) against the model, and V
    * is a 1-row broadcast off the shared tf artifact. Per-doc bigram
    * MULTIPLICITY rides the integer `bf`, so the double work is one
    * log per DISTINCT (doc, bigram), not per token.
    */
  /** x46's lake-checkpointed doc-grain bigram table (its row count is
    * the shuffled volume x46's wall ratio should track).
    */
  def bigramTable(spark: SparkSession, sfDir: String): DataFrame =
    Lake.materialize(spark, sfDir, X46Bigrams)

  val X46Bigrams: Derived = Derived("x46_bigrams") { (spark, sfDir) =>
    docs(spark, sfDir)
      .withColumn("_toks", tokens)
      // single-token docs have no transitions; dropping them BEFORE
      // the transform keeps sequence() ascending (a descending
      // sequence(1, 0) would index past the array under ANSI mode)
      .filter(size(col("_toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(_toks) - 1), " +
          "i -> struct(element_at(_toks, i) AS w1, " +
          "element_at(_toks, i + 1) AS w2))")).as("_bg"))
      .select(col("doc_id"), col("_bg.w1"), col("_bg.w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("bf"))
  }

  /** x164's keyword edges over [[X46Bigrams]], and x69's artifact
    * discipline over them: in-plan, the degree join and the src∪dst
    * distinct re-derived inside every iteration reference; as lake
    * tables each loop reference is one scan of a compact parquet.
    */
  val TextrankEdges: Derived = Derived("textrank_edges_v1")((spark, sfDir) =>
    textrankEdges(bigramTable(spark, sfDir)))

  val TextrankAdj: Derived = Derived("textrank_adj_v1")((spark, sfDir) =>
    Graph.adjacency(Lake.materialize(spark, sfDir, TextrankEdges)))

  val TextrankNodes: Derived = Derived("textrank_nodes_v1")((spark, sfDir) =>
    Graph.nodeMeta(Lake.materialize(spark, sfDir, TextrankAdj)))

  /** x290's report stage over a per-term total-count frame (one row
    * per term, column `r`) — split out so s59 can serve the SAME
    * readout from the maintained word-frequency state (Σ over
    * sources of the additive per-source counts IS the term total,
    * so streamed ≡ batch by construction).
    */
  def goodTuringFromTermCounts(wf: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    wf.groupBy(col("r")).agg(count(lit(1)).as("nr"))
      .agg(
        sum(col("r") * col("nr")).as("n_tokens"),
        sum(col("nr")).as("vocab"),
        coalesce(sum(when(col("r") === 1L, col("nr"))), lit(0L)).as("n1"),
        coalesce(sum(when(col("r") === 2L, col("nr"))), lit(0L)).as("n2"),
        coalesce(sum(when(col("r") === 3L, col("nr"))), lit(0L)).as("n3"))
      .select(col("vocab"), col("n_tokens"), col("n1"), col("n2"),
        col("n3"),
        when(col("n_tokens") > 0L,
          round(dd(col("n1")) / dd(col("n_tokens")), 6)).as("p_unseen"),
        when(col("n1") > 0L,
          round(lit(2.0) * dd(col("n2")) / dd(col("n1")), 4))
          .as("r1_star"),
        when(col("n2") > 0L,
          round(lit(3.0) * dd(col("n3")) / dd(col("n2")), 4))
          .as("r2_star"))
  }

  /** x183's report stage over a (source, w, freq) word-frequency
    * frame — like [[giniFromFreq]], the frequency table is the
    * ADDITIVE sufficient statistic that lets s30 maintain a
    * tail-of-the-distribution statistic incrementally.
    */
  def hapaxFromFreq(wf: DataFrame): DataFrame =
    wf.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("freq")).as("n_tokens"),
        sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("vocab"), col("n_tokens"), col("hapax"),
        round(col("hapax").cast("double") / col("vocab").cast("double"), 4)
          .as("hapax_share"),
        round(col("vocab").cast("double") / col("n_tokens").cast("double"),
          4).as("type_token_ratio"))

  /** x238's Yule's K over the same (source, w, freq) word-frequency
    * frame as x183 — the LENGTH-INVARIANT repetitiveness
    * characteristic (TTR and the hapax share shrink mechanically as
    * a corpus grows; K = 10⁴·(Σf² − N)/N² is, to first order, the
    * probability two random tokens repeat a word, scaled — stable
    * across corpus sizes, which is why stylometry uses it): natural
    * prose sits ~60-200, templated/boilerplate text reads far
    * higher. Σf² is x231's F₂ statistic on words — same skew mass,
    * different lens. Exact BIGINTs to the one double division; Σf²
    * leaves BIGINT only past ~3·10⁹ occurrences of a single word.
    */
  def yulesKFromFreq(wf: DataFrame): DataFrame = {
    def dd(c: String) = col(c).cast("double")
    wf.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("freq")).as("n_tokens"),
        sum(col("freq") * col("freq")).as("s2"))
      .select(col("source"), col("vocab"), col("n_tokens"),
        when(col("n_tokens") > 0L,
          round(lit(10000.0) * (dd("s2") - dd("n_tokens")) /
            (dd("n_tokens") * dd("n_tokens")), 4)).as("yules_k"))
      .orderBy(col("source"))
  }

  /** x258's lexical-richness profile over the same (source, w, freq)
    * word-frequency frame as x183/x238 — the four classical
    * vocabulary-growth constants read together (TTR and hapax share
    * are size-dependent; these are the standard normalizations):
    * Herdan's C = ln V/ln N, Guiraud's R = V/√N, Sichel's S = V₂/V
    * (the dislegomena share, nearly size-constant for natural text),
    * and Honoré's H = 100·ln N/(1 − V₁/V) (hapax-adjusted richness,
    * NULL when every type is a hapax). Exact integer counts off the
    * one frequency frame; ln/√ over exact arguments only.
    */
  def lexicalRichnessFromFreq(wf: DataFrame): DataFrame = {
    def dd(c: String) = col(c).cast("double")
    wf.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("freq")).as("n_tokens"),
        sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("v1"),
        sum(when(col("freq") === 2L, 1L).otherwise(0L)).as("v2"))
      .select(col("source"), col("vocab"), col("n_tokens"), col("v1"),
        col("v2"),
        when(col("n_tokens") > 1L,
          round(log(dd("vocab")) / log(dd("n_tokens")), 6)).as("herdan_c"),
        when(col("n_tokens") > 0L,
          round(dd("vocab") / sqrt(dd("n_tokens")), 6)).as("guiraud_r"),
        when(col("vocab") > 0L,
          round(dd("v2") / dd("vocab"), 6)).as("sichel_s"),
        when(col("v1") < col("vocab") && col("n_tokens") > 1L,
          round(lit(100.0) * log(dd("n_tokens")) /
            (lit(1.0) - dd("v1") / dd("vocab")), 4)).as("honore_h"))
      .orderBy(col("source"))
  }

  /** x272's KR-20 reliability over a (a, b, c) three-item 0/1 frame —
    * Cronbach's alpha specialized to binary items, the measurement-
    * theory question the x38 gate ensemble begs: do the three
    * quality gates measure ONE underlying quality trait (α → 1), or
    * three unrelated things (α → 0, and a majority-vote verdict is
    * then noise-prone)? ρ = (k/(k−1))·(1 − Σ s_i(n−s_i) /
    * (n·Σt² − (Σt)²)) with t the per-doc gate total — ALL exact
    * BIGINTs to one division. Zero total-score variance reads NULL.
    */
  def kr20FromItems(items: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    items
      .withColumn("t", col("a") + col("b") + col("c"))
      .agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
        sum(col("b")).as("sb"), sum(col("c")).as("sc"),
        sum(col("t")).as("st"), sum(col("t") * col("t")).as("stt"))
      .withColumn("num",
        col("sa") * (col("n") - col("sa")) +
          col("sb") * (col("n") - col("sb")) +
          col("sc") * (col("n") - col("sc")))
      .withColumn("den", col("n") * col("stt") - col("st") * col("st"))
      .select(col("n").as("n_docs"),
        round(dd(col("sa")) / dd(col("n")), 4).as("p_a"),
        round(dd(col("sb")) / dd(col("n")), 4).as("p_b"),
        round(dd(col("sc")) / dd(col("n")), 4).as("p_c"),
        when(col("den") > 0L,
          round(lit(1.5) * (lit(1.0) - dd(col("num")) / dd(col("den"))), 6))
          .as("kr20"))
  }

  /** x273's Fleiss' kappa over the same three-item 0/1 frame as
    * x272 — chance-corrected multi-rater agreement (x194's Cohen κ
    * handles TWO raters; Fleiss generalizes — and against x272 it
    * answers a different question: KR-20 reads internal consistency
    * of a scale, Fleiss reads vote agreement net of base rates):
    * with t the per-doc yes-vote total, P_i = [t(t−1) +
    * (3−t)(2−t)]/6 exactly, P̄ from the 4-cell count-of-totals
    * frame, P_e = p₁² + p₀², κ = (P̄ − P_e)/(1 − P_e). Exact
    * integers to three divisions; P_e = 1 (unanimous base rate)
    * reads NULL.
    */
  def fleissKappaFromItems(items: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    items
      .withColumn("t", col("a") + col("b") + col("c"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
        sum(col("t") * (col("t") - 1L) +
          (lit(3L) - col("t")) * (lit(2L) - col("t"))).as("agree6"))
      .withColumn("p_yes", dd(col("st")) / (lit(3.0) * dd(col("n"))))
      .withColumn("p_bar", dd(col("agree6")) / (lit(6.0) * dd(col("n"))))
      .withColumn("p_e", col("p_yes") * col("p_yes") +
        (lit(1.0) - col("p_yes")) * (lit(1.0) - col("p_yes")))
      .select(col("n").as("n_docs"), round(col("p_yes"), 4).as("p_yes"),
        round(col("p_bar"), 6).as("p_bar"),
        when(col("p_e") < 1.0,
          round((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")), 6))
          .as("fleiss_kappa"))
  }

  /** x274's Shannon diversity partition of the corpus vocabulary —
    * Jost's α/β/γ decomposition over the per-source word-frequency
    * cells (the corpus-mix number beside x136's Simpson index and
    * x158's pairwise KL: how much of the pooled vocabulary entropy
    * is WITHIN sources vs BETWEEN them): γ = H(pooled), α =
    * Σ w_g·H(source g) token-weighted, β = γ − α, and the effective
    * between-source turnover exp(β) ∈ [1, #sources]. Every ln runs
    * at vocabulary-cell grain over exact integer counts.
    */
  def diversityPartitionFromFreq(wf: DataFrame): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val tot = wf.agg(sum(col("freq")).as("n"))
    val gamma = wf.groupBy(col("w")).agg(sum(col("freq")).as("fw"))
      .crossJoin(broadcast(tot))
      .agg((log(max(col("n")).cast("double")) -
        sum(dd(col("fw")) * log(dd(col("fw")))) /
          max(col("n")).cast("double")).as("gamma_h"))
    val alpha = wf.groupBy(col("source"))
      .agg(sum(col("freq")).as("n_g"),
        sum(dd(col("freq")) * log(dd(col("freq")))).as("sfl"))
      .crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("k_sources"),
        sum((dd(col("n_g")) * log(dd(col("n_g"))) - col("sfl")) /
          dd(col("n"))).as("alpha_h"))
    gamma.crossJoin(alpha)
      .select(col("k_sources"), round(col("gamma_h"), 6).as("gamma_h"),
        round(col("alpha_h"), 6).as("alpha_h"),
        round(col("gamma_h") - col("alpha_h"), 6).as("beta_h"),
        round(exp(col("gamma_h") - col("alpha_h")), 4).as("turnover"))
  }

  /** The x11/x184 shared prediction stage: the stopword-ratio
    * language-ID heuristic over the documents table — one place, so
    * the classifier and its evaluation can never drift apart.
    */
  private def langIdPred(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        stopwordRatio(tokens).as("ratio"))
      .select(col("doc_id"), col("labeled_lang"),
        when(col("ratio") >= 0.05, "en").otherwise("unknown").as("pred_lang"))

  /** x174's MI stage over a (doc_id, term) presence frame and a
    * (doc_id, source) label frame — exposed so tests can plant
    * perfectly-informative and uninformative tokens. See the
    * registry entry for the absent-cell spine and grid discipline.
    */
  def tokenMiReport(tf: DataFrame, dsrc: DataFrame): DataFrame = {
    val nSrc = dsrc.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val nAll = broadcast(dsrc.agg(count(lit(1)).as("n_docs")))
    val nts = tf.join(dsrc, "doc_id")
      .groupBy(col("term"), col("source"))
      .agg(count(lit(1)).as("n_ts"))
    val nt = nts.groupBy(col("term")).agg(sum(col("n_ts")).as("n_t"))
    val cells = nt.select(col("term"), col("n_t"))
      .crossJoin(broadcast(nSrc))
      .join(nts, Seq("term", "source"), "left")
      .withColumn("n1", coalesce(col("n_ts"), lit(0L)))
      .withColumn("n0", col("n_s") - col("n1"))
      .crossJoin(nAll)
    val t1 = when(col("n1") > 0L,
      col("n1") * round(log((col("n1") * col("n_docs")).cast("double") /
        (col("n_t") * col("n_s")).cast("double")) * lit(1000000.0), 0)
        .cast("long")).otherwise(0L)
    val t0 = when(col("n0") > 0L && col("n_docs") > col("n_t"),
      col("n0") * round(log((col("n0") * col("n_docs")).cast("double") /
        ((col("n_docs") - col("n_t")) * col("n_s")).cast("double")) *
        lit(1000000.0), 0).cast("long")).otherwise(0L)
    cells
      .withColumn("_c_fp", t1 + t0)
      .groupBy(col("term"))
      .agg(min(col("n_t")).as("n_docs_with"),
        sum(col("_c_fp")).as("_mi_fp"),
        min(col("n_docs")).as("_n"))
      .select(col("term"), col("n_docs_with"),
        round(col("_mi_fp").cast("double") /
          (col("_n").cast("double") * lit(1000000.0)), 6).as("mi"))
  }

  /** x164's edge stage: the symmetric content-word co-occurrence
    * graph off a (w1, w2) bigram frame — length ≥ 5 on both ends
    * (the deterministic content-word heuristic; stopword-ish short
    * tokens would otherwise dominate every neighborhood), self-loops
    * dropped, both directions materialized and deduped. Symmetric by
    * construction ⇒ dangling-free ⇒ [[Graph.pageRankFp]]'s
    * redistribution term is provably zero (x144's argument).
    * Exposed so tests can plant hub-shaped co-occurrence graphs.
    */
  def textrankEdges(bg: DataFrame): DataFrame = {
    val f = bg.filter(length(col("w1")) >= 5 && length(col("w2")) >= 5 &&
        col("w1") =!= col("w2"))
      .select(col("w1"), col("w2")).distinct()
    f.select(col("w1").as("src"), col("w2").as("dst"))
      .unionAll(f.select(col("w2").as("src"), col("w1").as("dst")))
      .distinct()
  }

  def bigramLogProb(spark: SparkSession, sfDir: String): DataFrame = {
    val bfd = bigramTable(spark, sfDir)
    val cbg = bfd.groupBy(col("w1"), col("w2"))
      .agg(sum(col("bf")).as("cbg"))
    val cw1 = bfd.groupBy(col("w1")).agg(sum(col("bf")).as("cw1"))
    // vocab size off the shared tf table (the x15/x34 artifact)
    val v = Lake.materialize(spark, sfDir, TfidfTf)
      .select(col("term")).distinct().agg(count(lit(1)).as("v"))
    // Pre-join the two model tables into ONE (w1, w2, cbg, cw1) table:
    // both sides are model-sized (distinct bigrams / distinct first
    // words — corpus-vocabulary scale, not doc scale), so this join is
    // cheap, and the big per-doc table then shuffles ONCE against it
    // instead of twice (old shape: bfd⋈cbg on (w1,w2) then re-shuffle
    // on w1 for cw1 — the dominant cost at 10× data, where bfd grows
    // linearly but the model stays near-constant). AQE turns the model
    // side into a broadcast when it fits.
    val model = cbg.join(cw1, "w1")
    bfd.join(model, Seq("w1", "w2"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("bf")).cast("long").as("n_bigrams"),
        round(
          sum(col("bf") * log((col("cbg") + lit(1)).cast("double") /
            (col("cw1") + col("v")).cast("double"))) / sum(col("bf")),
          4).as("avg_bigram_logprob"))
  }

  /** x148's Kneser–Ney smoothed bigram score (absolute discount
    * D = 3/4): P(w2|w1) = (c(w1w2) − D)/c(w1) + D·N1+(w1·)/c(w1) ·
    * N1+(·w2)/N1+(··) — the continuation-count backoff that fixes
    * add-k's pathology (x46 scores "San Francisco"-style bigrams the
    * same as any frequent unigram pair; KN asks how many DISTINCT
    * contexts a word completes). Every doc bigram is observed in the
    * corpus model by construction (the corpus contains the doc), so
    * the max(c − D, 0) clamp never binds and the probability is the
    * single exact rational ((4c − 3)·N + 3·N1f·N1p) / (4·c(w1)·N)
    * with N = distinct bigrams — BIGINT numerator/denominator, ONE
    * ln per model row onto x132's 10⁶ integer grid, per-doc scores
    * as exact BIGINT sums (no float accumulation order anywhere).
    * Scale shape = x46's: the three continuation tables are all
    * vocab-sized, pre-joined into one model, and the doc-grain table
    * shuffles against it ONCE. Overflow: c·N < 2⁶³ holds through
    * ~10¹⁵ corpus bigrams; past that the numerators swap to
    * DECIMAL(38,0) unchanged.
    */
  def knBigramLogProb(spark: SparkSession, sfDir: String): DataFrame =
    knFromBigrams(bigramTable(spark, sfDir))

  /** The KN chain over any (doc_id, w1, w2, bf) doc-grain bigram
    * frame — exposed so tests can plant corpora with hand-computable
    * continuation counts.
    */
  def knFromBigrams(bfd: DataFrame): DataFrame = {
    val cbg = bfd.groupBy(col("w1"), col("w2")).agg(sum(col("bf")).as("cbg"))
    val cw1 = bfd.groupBy(col("w1")).agg(sum(col("bf")).as("cw1"))
    val n1f = cbg.groupBy(col("w1")).agg(count(lit(1)).as("n1f"))
    val n1p = cbg.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    val nb = broadcast(cbg.agg(count(lit(1)).as("nbi")))
    val model = cbg.join(cw1, "w1").join(n1f, "w1").join(n1p, "w2")
    bfd.join(model, Seq("w1", "w2")).crossJoin(nb)
      .select(col("doc_id"), col("bf"),
        round(log(((lit(4L) * col("cbg") - lit(3L)) * col("nbi") +
          lit(3L) * col("n1f") * col("n1p")).cast("double") /
          (lit(4L) * col("cw1") * col("nbi")).cast("double")) *
          lit(1000000.0), 0).cast("long").as("term_fp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bf")).as("n_bigrams"),
        sum(col("bf") * col("term_fp")).as("score_fp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("score_fp").cast("double") /
          (col("n_bigrams").cast("double") * lit(1000000.0)), 4)
          .as("avg_kn_logprob"))
  }

  /** x136's report stage over a (source, lang, n) count frame —
    * shared with s21, which maintains the cells additively (each
    * microbatch's per-(source, lang) counts merge by +), so the
    * streamed diversity readout is oracled ≡ batch x136 by
    * construction.
    */
  def simpsonFromCells(cells: DataFrame): DataFrame =
    cells.groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(col("n") * (col("n") - 1)).as("pairs_same"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        round(lit(1.0) - col("pairs_same").cast("double") /
          (col("n_docs") * (col("n_docs") - 1)).cast("double"), 4)
          .as("simpson"))

  /** x135's Gopher-rule report over any (text) frame: per-doc flag
    * derivation (token/line map arithmetic, shuffle-free) rolled to
    * one 1-row aggregate of per-rule kill counts + survivors.
    * Exposed so tests can plant single-rule violators and check the
    * kill attribution.
    */
  def gopherReport(d: DataFrame): DataFrame = {
    val nStop = EnStopwords.map(w =>
      when(array_contains(tokens, w), 1).otherwise(0).cast("long"))
      .reduce(_ + _)
    val flags = d.select(
      size(tokens).cast("long").as("n_w"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("tot_len"),
      size(filter(tokens, w =>
        instr(w, "#") > 0 || instr(w, "...") > 0)).cast("long").as("n_sym"),
      size(filter(tokens, w => w.rlike("[a-zA-Z]"))).cast("long").as("n_alpha"),
      nStop.as("n_stop"),
      size(split(col("text"), "\n")).cast("long").as("n_lines"),
      size(filter(split(col("text"), "\n"), l =>
        l.startsWith("-") || l.startsWith("*") || l.startsWith("•")))
        .cast("long").as("n_bullet"),
      size(filter(split(col("text"), "\n"), l => l.endsWith("...")))
        .cast("long").as("n_ell"))
      .select(
        (col("n_w") < 50 || col("n_w") > 100000).as("f_wc"),
        (!(lit(3) * col("n_w") <= col("tot_len") &&
          col("tot_len") <= lit(10) * col("n_w"))).as("f_mwl"),
        (col("n_sym") * 10 > col("n_w")).as("f_sym"),
        (col("n_bullet") * 10 > col("n_lines") * 9).as("f_bul"),
        (col("n_ell") * 10 > col("n_lines") * 3).as("f_ell"),
        (col("n_alpha") * 5 < col("n_w") * 4).as("f_alpha"),
        (col("n_stop") < 2).as("f_stop"))
    flags.agg(
      count(lit(1)).as("n_docs"),
      sum(col("f_wc").cast("long")).as("fail_word_count"),
      sum(col("f_mwl").cast("long")).as("fail_mean_word_len"),
      sum(col("f_sym").cast("long")).as("fail_symbol_ratio"),
      sum(col("f_bul").cast("long")).as("fail_bullet_lines"),
      sum(col("f_ell").cast("long")).as("fail_ellipsis_lines"),
      sum(col("f_alpha").cast("long")).as("fail_alpha_words"),
      sum(col("f_stop").cast("long")).as("fail_stopwords"),
      sum((!col("f_wc") && !col("f_mwl") && !col("f_sym") &&
        !col("f_bul") && !col("f_ell") && !col("f_alpha") &&
        !col("f_stop")).cast("long")).as("n_pass"))
  }

  /** x44's vocabulary-growth curve (types vs tokens as the corpus
    * grows in doc_id order), bucket width 50 — shared with x190's
    * Heaps fit so the plotted curve and the fitted exponent read the
    * SAME frame. A token's arrival position is its MIN doc_id (one
    * hash groupBy over the exploded tokens — partial-aggregatable);
    * bucketing collapses the curve to a model-sized table, so the
    * running sums ride a window over buckets, never the corpus.
    */
  private def vocabGrowthCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens).as("token"))
    val newTypes = tok.groupBy(col("token"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr("first_doc DIV 50").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val tokCounts = tok.groupBy(expr("doc_id DIV 50").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val byBucket = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokCounts.join(newTypes, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types"))
      .select(col("bucket"), col("n_tokens"), col("new_types"),
        sum(col("new_types")).over(byBucket).as("vocab_size"),
        sum(col("n_tokens")).over(byBucket).as("cum_tokens"))
  }

  /** x190's type-growth curve over 3-GRAM SHINGLE types (the shared
    * x05 lake artifact): per 50-doc bucket, cumulative shingle
    * occurrences vs cumulative first-seen shingle types — x44's
    * construction with the shingle table as the token stream. Same
    * scale shape: two partial-aggregatable hash aggs over the
    * artifact, windows over the bucket frame only.
    */
  private def shingleGrowthCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Lake.materialize(spark, sfDir, Dedup.X05Shingles)
    val newTypes = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr("first_doc DIV 50").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val tokCounts = sh.groupBy(expr("doc_id DIV 50").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val byBucket = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokCounts.join(newTypes, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types"))
      .select(col("bucket"),
        sum(col("new_types")).over(byBucket).as("vocab_size"),
        sum(col("n_tokens")).over(byBucket).as("cum_tokens"))
  }

  /** The full (w1, w2, cnt) bigram-count table of an explicit
    * documents frame — x197's one corpus pass, and the per-batch
    * delta shape s35 aggregates before its additive merge.
    */
  def bigramCountsOf(d: DataFrame): DataFrame =
    d.select(split(col("text"), " ").as("w")).filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] AS w1, w[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))

  /** x197's G² readout over a FULL (w1, w2, cnt) bigram-count table
    * (no min-count pre-filter — the ≥5 gate applies to the REPORTED
    * pairs only; marginals and N always sum the full table). The
    * count table is x197's sufficient statistic and merges additively
    * per microbatch, so s35 maintains it incrementally and reads the
    * ranking out through this exact stage — streamed ≡ batch by
    * construction. Marginals/N are one hash agg each off the
    * model-sized table; everything downstream is model-sized.
    */
  def g2FromBigramCounts(cbg: DataFrame): DataFrame = {
    val pair = cbg.filter(col("cnt") >= 5)
      .select(col("w1"), col("w2"), col("cnt").as("k11"))
    val sm = cbg.groupBy(col("w1")).agg(sum(col("cnt")).as("s1"))
    val em = cbg.groupBy(col("w2")).agg(sum(col("cnt")).as("e2"))
    val nn = broadcast(cbg.agg(sum(col("cnt")).as("nb")))
    def lnd(c: org.apache.spark.sql.Column) = log(c.cast("double"))
    def termFp(o: org.apache.spark.sql.Column,
        row: org.apache.spark.sql.Column,
        cl: org.apache.spark.sql.Column) =
      when(o > 0, o * round((lnd(o) + lnd(col("nb")) - lnd(row) - lnd(cl))
        * 1000000.0, 0).cast("long")).otherwise(0L)
    pair.join(sm, "w1").join(em, "w2").crossJoin(nn)
      .withColumn("g2_fp",
        termFp(col("k11"), col("s1"), col("e2")) +
          termFp(col("s1") - col("k11"), col("s1"), col("nb") - col("e2")) +
          termFp(col("e2") - col("k11"), col("nb") - col("s1"), col("e2")) +
          termFp(col("nb") - col("s1") - col("e2") + col("k11"),
            col("nb") - col("s1"), col("nb") - col("e2")))
      .select(col("w1"), col("w2"), col("k11"), col("g2_fp"),
        round(col("g2_fp").cast("double") * 2.0 / 1000000.0, 4).as("g2"))
      .orderBy(desc("g2_fp"), col("w1"), col("w2"))
      .limit(20)
  }

  /** x193/x194's paired rule outcomes over documents: rule A = length
    * strictly above the global median n_chars, rule B = token count
    * strictly above ITS global median (both medians exact order
    * statistics via percentile_disc, broadcast as a 1-row scalar).
    * One doc pass → the exact 2×2 agreement cells (n11/n10/n01/n00) —
    * the shared sufficient statistic for every paired-classifier
    * comparison (McNemar tests marginal difference, kappa scores
    * agreement beyond chance).
    */
  private def ruleAgreementCells(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        size(tokens).cast("long").as("n_toks"))
    val med = broadcast(d.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
        .as("med_chars"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_toks)")
        .as("med_toks")))
    d.crossJoin(med)
      .select((col("n_chars") > col("med_chars")).as("a"),
        (col("n_toks") > col("med_toks")).as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
  }

  /** x210's RBO persistence parameter and its frozen depth weights
    * (1−p)·p^(d−1): computed once and interpolated verbatim into both
    * the Column plan and the oracle SQL, so the geometric weighting
    * is literal-identical on both engines.
    */
  /** x222's frozen ln 2 on the 10⁶ term grid — the q-side term of
    * every vocabulary word a source never uses (q/m = 2 exactly
    * there), so the absent mass collapses to this constant times the
    * absent count. Interpolated verbatim into both engines.
    */
  private[graft] val Ln2Fp: Long = math.round(math.log(2.0) * 1e6)

  private val RboP = 0.9
  private[graft] lazy val rboWeightCaseSql: String =
    "CASE d " + (1 to 20).map(d =>
      s"WHEN $d THEN ${(1.0 - RboP) * math.pow(RboP, d - 1)}")
      .mkString(" ") + " ELSE 0.0 END"

  val queries: Map[String, Q] = Map(
    // RANK-BIASED OVERLAP DRIFT — do two corpus halves RANK their
    // vocabulary the same way? (x133/x178 compare distributions;
    // ranking drift is what breaks cached top-k artifacts — BM25
    // cutoffs, collocation tables, boilerplate lists — even when the
    // distribution tests stay quiet): Webber's RBO@20 (p = 0.9,
    // truncated — no extrapolation) between the top-20 shingle
    // rankings of the even- and odd-doc halves. Per-depth prefix
    // overlap is EXACT — a matched shingle enters at depth
    // max(rank_a, rank_b), so overlap(d) is a count over the ≤20-row
    // match frame — and the geometric weights are frozen literals,
    // leaving one double term per depth. Everything after the two
    // half-corpus hash aggs is ≤20 rows.
    "x210_rbo_drift" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val sh = Lake.materialize(spark, sfDir, Dedup.X05Shingles)
      def top(par: Int): DataFrame = {
        val w = Window.orderBy(desc("cnt"), col("shingle"))
        sh.filter(col("doc_id") % 2 === par)
          .groupBy(col("shingle")).agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 20)
          .select(col("shingle"), col("rk"))
      }
      val matches = top(0).as("a")
        .join(top(1).withColumnRenamed("rk", "rk_b"), "shingle")
        .select(greatest(col("rk"), col("rk_b")).as("mrk"))
      val whole = Window.partitionBy(lit(1))
      spark.range(1, 21).select(col("id").as("d"))
        .join(broadcast(matches), col("mrk") <= col("d"), "left")
        .groupBy(col("d")).agg(count(col("mrk")).as("overlap"))
        .withColumn("w", expr(rboWeightCaseSql))
        .select(col("d"), col("overlap"),
          round(col("overlap").cast("double") / col("d").cast("double"), 4)
            .as("agreement"),
          round(sum(col("overlap").cast("double") * col("w") /
            col("d").cast("double")).over(whole), 6).as("rbo"))
        .orderBy(col("d"))
    }),
    // McNEMAR'S TEST — do two quality rules DISAGREE in a biased
    // direction? (x184's confusion matrix evaluates one rule against
    // truth; McNemar compares two rules against each other on the
    // same documents, using only the discordant cells — the correct
    // paired test where an unpaired chi-square would double-count the
    // agreeing mass): χ² = (b−c)²/(b+c) over the exact discordant
    // counts. One doc pass (the shared 2×2 cells), scalars after.
    "x193_mcnemar" -> ((spark, sfDir) =>
      ruleAgreementCells(spark, sfDir)
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          when(col("n10") + col("n01") > 0, round(
            (col("n10") - col("n01")).cast("double") *
              (col("n10") - col("n01")).cast("double") /
              (col("n10") + col("n01")).cast("double"), 6))
            .as("chi2"))),

    // COHEN'S KAPPA — chance-corrected agreement of the same two
    // rules: κ = (pₒ−pₑ)/(1−pₑ) computed as ONE exact integer
    // rational — numerator n·(n11+n00) − pe_num and denominator
    // n² − pe_num with pe_num = (n11+n10)(n11+n01) +
    // (n01+n00)(n10+n00) — so the whole statistic is a single double
    // division over BIGINTs.
    "x194_cohens_kappa" -> ((spark, sfDir) =>
      ruleAgreementCells(spark, sfDir)
        .withColumn("pe_num",
          (col("n11") + col("n10")) * (col("n11") + col("n01")) +
            (col("n01") + col("n00")) * (col("n10") + col("n00")))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          round((col("n11") + col("n00")).cast("double") /
            col("n").cast("double"), 4).as("po"),
          round(col("pe_num").cast("double") /
            (col("n") * col("n")).cast("double"), 4).as("pe"),
          when(col("n") * col("n") > col("pe_num"), round(
            (col("n") * (col("n11") + col("n00")) - col("pe_num"))
              .cast("double") /
              (col("n") * col("n") - col("pe_num")).cast("double"), 6))
            .as("kappa"))),

    // KRIPPENDORFF'S ALPHA — chance-corrected agreement of THREE
    // raters (x194's kappa is inherently two-rater; alpha is what a
    // labeling pipeline reports once a third annotator/scorer joins):
    // raters here are the three median-split quality rules (chars,
    // tokens, distinct types — the third a genuinely different
    // lexical-diversity signal). For m=3 binary nominal raters with
    // no missing data, the coincidence algebra collapses to one
    // exact integer rational: per doc with k positive votes the
    // DOUBLED disagreeing coincidences are 2k(3−k), so
    // α = 1 − (n−1)·Σ2k(3−k) / (4·n₁·n₀) with n = 3N pairable
    // values and n₁ total positive votes — a single double division
    // over BIGINTs (the 2-category case of 1 − (n−1)Do_pairs/Σn_cn_k).
    // Scale shape: one doc pass against three broadcast order
    // statistics, one global aggregate; degenerate all-same-vote
    // corpora read NULL, never a division crash.
    "x215_krippendorff_alpha" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
        .select(col("doc_id"), col("n_chars"),
          size(tokens).cast("long").as("n_toks"),
          size(array_distinct(tokens)).cast("long").as("n_types"))
      val med = broadcast(d.agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
          .as("mc"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_toks)")
          .as("mt"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_types)")
          .as("my")))
      krippendorffFromVotes(d.crossJoin(med)
        .select((when(col("n_chars") > col("mc"), 1L).otherwise(0L) +
          when(col("n_toks") > col("mt"), 1L).otherwise(0L) +
          when(col("n_types") > col("my"), 1L).otherwise(0L)).as("k")))
    }),


    // FLESCH–KINCAID READABILITY — the per-source reading-grade
    // number beside x10's raw stats and x135's Gopher gates (quality
    // rules threshold counts; readability converts the same counts
    // into the grade-level a dataset card quotes): syllables are
    // vowel-group runs per token (≥1 — the standard heuristic; the
    // corpus is punctuation-free so sentences are the fixed 15-token
    // chunking ⌈words/15⌉, stated as the operator's convention).
    // Per-doc counts are exact integers from one codegen'd
    // higher-order-function pass (no explode — the per-token loop
    // stays inside the row), per-source sums are three BIGINTs, and
    // grade = 0.39·W/S + 11.8·Y/W − 15.59 plus reading ease are fixed
    // double expressions over them at 4 dp. One doc pass, |sources|
    // rows out.
    "x221_readability" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .select(col("source"),
          size(tokens).cast("long").as("w"),
          expr("aggregate(transform(split(text, ' '), t -> " +
            "greatest(1, size(filter(split(t, '[^aeiou]+'), " +
            "s -> s != '')))), 0L, (acc, v) -> acc + v)").as("y"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(expr("(w + 14) DIV 15")).as("n_sentences"),
          sum(col("y")).as("n_syllables"))
        .select(col("source"), col("n_docs"), col("n_words"),
          col("n_sentences"), col("n_syllables"),
          round(lit(0.39) * col("n_words").cast("double") /
            col("n_sentences").cast("double") +
            lit(11.8) * col("n_syllables").cast("double") /
              col("n_words").cast("double") - lit(15.59), 4)
            .as("fk_grade"),
          round(lit(206.835) - lit(1.015) * col("n_words").cast("double") /
            col("n_sentences").cast("double") -
            lit(84.6) * col("n_syllables").cast("double") /
              col("n_words").cast("double"), 4).as("reading_ease"))
        .orderBy(col("source"))),

    // JENSEN–SHANNON SOURCE DIVERGENCE — how far each source's TOKEN
    // distribution sits from the corpus blend (x158 reads doc-count
    // imbalance; this reads lexical domain shift — the number a
    // mixture-reweighting job ranks sources by, symmetric and
    // bounded [0, ln 2] unlike KL, and finite even where a source
    // misses vocabulary): JSD(p‖q) = ½Σp·ln(p/m) + ½Σq·ln(q/m) with
    // m the even blend. Every log ratio is ln of one exact count
    // rational (p/m = 2·c_s·n/(c_s·n + c·n_s), q/m with the same
    // denominator) floored onto the 10⁶ grid per PRESENT (source,
    // word) row, and both sums are exact BIGINT Σ count·term_fp with
    // one division at readout (x158's order-free discipline;
    // Σ|c·term| < 2⁶³ to ~10¹² tokens). The q-side mass of words a
    // source NEVER uses needs no dense vocab×sources frame: absent
    // words all carry q/m = 2 exactly, so their term is the one
    // frozen constant [[Ln2Fp]] times the absent count n − Σ_present
    // c — algebraically identical to the dense sum, without the
    // cross join. Scale: one token explode feeds both count tables;
    // everything after is support-sized.
    "x222_js_divergence" -> ((spark, sfDir) => {
      val sw = docs(spark, sfDir)
        .select(col("source"), explode(tokens).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_s"))
      val cw = sw.groupBy(col("w")).agg(sum(col("c_s")).as("c"))
      val ns = sw.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
      val n = broadcast(cw.agg(sum(col("c")).as("n")))
      def dd(c: Column) = c.cast("double")
      sw.join(cw, "w").join(broadcast(ns), "source").crossJoin(n)
        .withColumn("den",
          dd(col("c_s")) * dd(col("n")) + dd(col("c")) * dd(col("n_s")))
        .withColumn("p_term_fp",
          round(log(lit(2.0) * dd(col("c_s")) * dd(col("n")) / col("den")) *
            lit(1000000.0), 0).cast("long"))
        .withColumn("q_term_fp",
          round(log(lit(2.0) * dd(col("c")) * dd(col("n_s")) / col("den")) *
            lit(1000000.0), 0).cast("long"))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          sum(col("c_s") * col("p_term_fp")).as("p_num"),
          sum(col("c") * col("q_term_fp")).as("q_present_num"),
          sum(col("c")).as("c_present"),
          max(col("n")).as("n"))
        .select(col("source"), col("n_tokens"),
          round((dd(col("p_num")) / dd(col("n_tokens")) +
            (dd(col("q_present_num")) + lit(Ln2Fp.toDouble) *
              (dd(col("n")) - dd(col("c_present")))) / dd(col("n"))) /
            lit(2000000.0), 4).as("jsd"))
        .orderBy(col("source"))
    }),

    // MINIMAL-SPAN PROXIMITY SEARCH — positional retrieval beside
    // x111's exact phrase match and x119's BM25 (phrase requires
    // adjacency, BM25 ignores positions entirely; proximity ranks
    // docs by how CLOSE the query terms co-occur — the classic
    // two-term span scorer): for the frozen query {key, stream}, the
    // minimal |pos₁ − pos₂| over all occurrence pairs is achieved at
    // CONSECUTIVE cross-term positions in the merged position list,
    // so one lag window per doc over the two terms' positions finds
    // it in O(tf) — the quadratic alignment join is never built.
    // Docs carrying both terms rank by (span asc, doc_id); exact
    // integers end-to-end.
    "x223_min_span_proximity" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      docs(spark, sfDir)
        .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "tok")))
        .filter(col("tok") === "key" || col("tok") === "stream")
        .withColumn("prev_tok", lag(col("tok"), 1).over(byPos))
        .withColumn("prev_pos", lag(col("pos"), 1).over(byPos))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("tok") === "key", 1L).otherwise(0L)).as("tf_key"),
          sum(when(col("tok") === "stream", 1L).otherwise(0L))
            .as("tf_stream"),
          min(when(col("tok") =!= col("prev_tok"),
            (col("pos") - col("prev_pos")).cast("long") + 1L))
            .as("min_span"))
        .filter(col("min_span").isNotNull)
        .orderBy(col("min_span"), col("doc_id"))
        .limit(20)
    }),

    // MATTR — Covington & McFall's moving-average type-token ratio
    // per source (x258's richness indices are length-confounded: raw
    // TTR falls with doc length by Heaps' law, so cross-source TTR
    // comparisons read LENGTH, not vocabulary; MATTR fixes the
    // denominator by averaging the TTR of fixed 50-token windows at
    // stride 25): each token joins its ≤2 covering windows via a
    // closed-form window-index range (the quadratic tokens×windows
    // join is never built — per-token fanout is the constant W/S, so
    // the frame stays 2× token mass at any corpus size), per-window
    // distinct-type counts, then MATTR = Σ types / (50 · windows) as
    // ONE exact-rational division per source. Docs shorter than one
    // window contribute nothing — the standard MATTR edge rule.
    "x280_mattr" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val tok = d.select(col("doc_id"),
        posexplode(tokens).as(Seq("p", "tok")))
      val nDoc = tok.groupBy(col("doc_id"))
        .agg((max(col("p")) + 1L).as("n_tok"))
      val wins = tok
        .withColumn("k", explode(expr(
          "sequence(CASE WHEN p < 50 THEN 0L ELSE (p - 50) DIV 25 + 1 END, " +
            "p DIV 25)")))
        .join(nDoc, "doc_id")
        .filter(col("k") * 25 + 50 <= col("n_tok"))
        .groupBy(col("doc_id"), col("k"))
        .agg(countDistinct(col("tok")).as("types"))
      d.select(col("doc_id"), col("source"))
        .join(wins.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("nw"), sum(col("types")).as("ts")),
          "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_windows"),
          sum(col("ts")).as("types_sum"))
        .select(col("source"), col("n_docs"), col("n_windows"),
          round(col("types_sum").cast("double") /
            (lit(50.0) * col("n_windows").cast("double")), 6).as("mattr"))
        .orderBy(col("source"))
    }),

    // LUHN CHECKSUM SCREEN — the PII class x24's patterns can't
    // separate: a 16-digit token is only a CREDIT CARD candidate if
    // its Luhn mod-10 checksum validates (the industry pre-filter
    // that cuts digit-soup false positives by ~10×). Tokens of 13-19
    // digits run the checksum as one higher-order aggregate over
    // reversed digit positions — pure integer arithmetic, stateless
    // map work on the scan, no shuffle before the per-source rollup.
    // Non-vacuity (x71's pattern): the corpus is word soup with no
    // card-shaped tokens, so one valid (4532015112830366) and one
    // off-by-one invalid twin are planted; the screen must accept
    // exactly the valid one.
    "x291_luhn_screen" -> ((spark, sfDir) => {
      val planted = spark.sql(
        "SELECT * FROM VALUES " +
          "(5000001, 'planted', 'card 4532015112830366 leaked'), " +
          "(5000002, 'planted', 'card 4532015112830367 mistyped') " +
          "AS t(doc_id, source, text)")
      val cand = docs(spark, sfDir)
        .select(col("doc_id"), col("source"), col("text"))
        .unionByName(planted
          .select(col("doc_id").cast("long").as("doc_id"),
            col("source"), col("text")))
        .select(col("doc_id"), col("source"), explode(tokens).as("t"))
        .filter(col("t").rlike("^[0-9]{13,19}$"))
      val digit = "CAST(substring(t, length(t) - i + 1, 1) AS INT)"
      cand.withColumn("luhn_sum", expr(
          s"aggregate(sequence(1, length(t)), 0, (acc, i) -> acc + " +
            s"CASE WHEN i % 2 = 1 THEN $digit " +
            s"ELSE CASE WHEN $digit * 2 > 9 THEN $digit * 2 - 9 " +
            s"ELSE $digit * 2 END END)"))
        .withColumn("valid", col("luhn_sum") % 10 === 0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_luhn_valid"),
          countDistinct(when(col("valid"), col("doc_id")))
            .as("n_docs_flagged"))
        .orderBy(col("source"))
    }),

    // MATTHEWS CORRELATION — the one-number grade of rule agreement
    // that survives class imbalance (x193 reads the discordance
    // DIRECTION, x194 the chance-corrected rate; MCC is the
    // phi-coefficient of the same 2×2 cells — the balanced-accuracy
    // number a rule card quotes when positives are rare): MCC =
    // (n11·n00 − n10·n01) / √((n11+n10)(n11+n01)(n00+n10)(n00+n01)),
    // the numerator one exact BIGINT cross product (to n ≈ 3·10⁹ —
    // x194's square bound), the four marginals exact, one double
    // sqrt + division at 6 dp. Any empty marginal reads NULL. Shares
    // the x193/x194 cell build — one doc pass serves all three.
    "x227_mcc" -> ((spark, sfDir) =>
      ruleAgreementCells(spark, sfDir)
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          when((col("n11") + col("n10")) * (col("n11") + col("n01")) *
              (col("n00") + col("n10")) * (col("n00") + col("n01")) > 0,
            round((col("n11") * col("n00") - col("n10") * col("n01"))
              .cast("double") /
              sqrt(((col("n11") + col("n10")) * (col("n11") + col("n01")))
                .cast("double") *
                ((col("n00") + col("n10")) * (col("n00") + col("n01")))
                  .cast("double")), 6)).as("mcc"))),

    // THEIL'S U — the ENTROPY read of the (source, lang) association
    // beside x163's Cramér's V (V is symmetric chi-square geometry;
    // U(lang|source) answers the operational question "what fraction
    // of language uncertainty does knowing the source REMOVE", the
    // asymmetric number that says whether source-stratified sampling
    // already controls language): U = I(source;lang)/H(lang), both
    // numerator and denominator as exact integer sums of count ×
    // 10⁻⁶-gridded ln terms (x158's order-free discipline — the /n
    // normalizations cancel in the ratio, so no float accumulates),
    // one division at 6 dp. Degenerate single-language corpora read
    // NULL. One docs pass; everything after is R×C-sized.
    "x228_theil_u" -> ((spark, sfDir) =>
      theilUFromCells(docs(spark, sfDir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c")))),

    // COCHRAN'S Q — do the THREE quality raters admit documents at
    // the same RATE? (x215's alpha reads agreement per document;
    // Q is the k-related-samples test that one rater is
    // systematically stricter — the marginal-homogeneity question
    // McNemar answers for two raters, generalized.) Same three
    // median-split raters as x215; Q = (m−1)·[m·ΣC_j² − (ΣC_j)²] /
    // [m·ΣR_i − ΣR_i²] with C_j the per-rater positive totals and
    // R_i the per-doc vote count — the denominator Σ R(3−R) is
    // exactly half x215's doubled disagreement mass, so the two
    // statistics share their sufficient statistics. One doc pass
    // against broadcast medians, five BIGINT sums (exact to
    // n ≈ 1.7·10⁹ docs — x194's square bound), one double division
    // at 6 dp; an all-unanimous corpus reads NULL, never a crash.
    "x226_cochran_q" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
        .select(col("doc_id"), col("n_chars"),
          size(tokens).cast("long").as("n_toks"),
          size(array_distinct(tokens)).cast("long").as("n_types"))
      val med = broadcast(d.agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
          .as("mc"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_toks)")
          .as("mt"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_types)")
          .as("my")))
      d.crossJoin(med)
        .select(
          when(col("n_chars") > col("mc"), 1L).otherwise(0L).as("v1"),
          when(col("n_toks") > col("mt"), 1L).otherwise(0L).as("v2"),
          when(col("n_types") > col("my"), 1L).otherwise(0L).as("v3"))
        .withColumn("r", col("v1") + col("v2") + col("v3"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("v1")).as("c1"), sum(col("v2")).as("c2"),
          sum(col("v3")).as("c3"),
          sum(col("r")).as("sr"), sum(col("r") * col("r")).as("sr2"))
        .select(col("n_docs"), col("c1"), col("c2"), col("c3"),
          when(lit(3L) * col("sr") - col("sr2") > 0, round(
            lit(2.0) * (lit(3L) * (col("c1") * col("c1") +
              col("c2") * col("c2") + col("c3") * col("c3")) -
              (col("c1") + col("c2") + col("c3")) *
                (col("c1") + col("c2") + col("c3"))).cast("double") /
              (lit(3L) * col("sr") - col("sr2")).cast("double"), 6))
            .as("q"))
    }),

    // GINI LENGTH CONCENTRATION — the inequality read of each
    // source's doc-length distribution (x61 buckets lengths, x136
    // reads label diversity; Gini answers "does a thin slice of
    // giant documents carry most of this source's mass" — the
    // dataset-card number that flags a source whose token count is
    // dominated by a few mega-docs a dedup or truncation pass would
    // reshape). Computed on the VALUE-FREQUENCY compressed frame:
    // G = (2·S₁ − (n+1)·S₀)/(n·S₀) needs the rank-weighted sum S₁,
    // and the rank-sum of an f-wide tie block at value v is
    // f·C_prev + f(f+1)/2 regardless of intra-tie order — so the
    // cumulative window runs over DISTINCT length values per source
    // (a power-law support, orders smaller than docs), never the doc
    // frame, and no tiebreak contract exists at all. Everything is
    // exact BIGINT until ONE division at 6 dp (headroom: S₁ ≤ n·S₀
    // needs n·S₀ < 9·10¹⁸ — a 10¹²-char source crosses it, where the
    // mitigation is pre-bucketing lengths to a 10³ grid, x133's
    // pre-scale fallback). One partial-agg'able pass over documents;
    // everything after is value-support-sized.
    "x159_gini_length" -> ((spark, sfDir) =>
      giniReport(docs(spark, sfDir)
        .select(col("source"), col("n_chars").as("v")))
        .orderBy(col("source"))),

    // CHARACTER-ENTROPY QUALITY — Shannon entropy of each doc's
    // character distribution (the Gopher-family signal that separates
    // natural text from key-mash/boilerplate: too low = repetitive,
    // too high = random). Scale shape: the char-grain explode is
    // map-local and the (doc, char) hash agg combines BEFORE the
    // shuffle, so shuffled volume is ≤ alphabet-size rows per doc
    // (~27 here), never character-grain. Cross-engine exactness: one
    // division + one log2 + one multiply per term (log2 is the one
    // non-correctly-rounded op — the 9 dp term round absorbs any ulp
    // skew; the r11 dual-scale sweep caught one sf0.1 term sitting
    // ~1e-13 from a 6 dp half-way point, where a 1-ulp engine skew
    // flips the rounded digit — the wider grid moves the boundary
    // ~1e-10 away from any term, three orders past the skew), terms
    // summed as exact decimals so accumulation order cannot shift the
    // result, final round 4 dp.
    "x76_char_entropy" -> ((spark, sfDir) => {
      val ch = docs(spark, sfDir)
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      val counts = ch.groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("nc"))
      val tot = counts.groupBy(col("doc_id")).agg(sum(col("nc")).as("n"))
      val p = col("nc").cast("double") / col("n")
      counts.join(tot, "doc_id")
        .withColumn("t", round(p * log2(p), 9).cast("decimal(24,9)"))
        .groupBy(col("doc_id"))
        .agg(round((-sum(col("t"))).cast("double"), 4).as("entropy_bits"),
          count(lit(1)).as("n_distinct_chars"))
        .orderBy(col("doc_id"))
    }),

    // FEATURE HASHING — the hashing-trick featurization
    // (HashingVectorizer / Vowpal Wabbit): each token maps to one of
    // 64 buckets via an ENGINE-EXACT polynomial hash — Σ ascii(cᵢ) ·
    // (31^(i-1) mod P) over the first 64 chars, mod P, mod 64 — pure
    // integer arithmetic with a precomputed weight table, so unlike
    // xxhash64 featurization the sparse feature matrix takes a full
    // hash oracle. Stateless map + one (doc, bucket) hash agg with
    // the combine bounding shuffled volume at ≤64 rows per doc.
    "x79_hashed_features" -> ((spark, sfDir) => {
      val wArr = hashWeights.mkString("array(", "L, ", "L)")
      val h = s"aggregate(sequence(1, least(length(w), $HashMaxChars)), 0L, " +
        s"(acc, i) -> acc + ascii(substring(w, i, 1)) * element_at($wArr, i))"
      docs(spark, sfDir)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), explode(tokens).as("w"))
        .filter(length(col("w")) >= 1) // '' would index weight 0
        .select(col("doc_id"),
          expr(s"pmod(pmod($h, $HashP), 64)").as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("doc_id"), col("bucket"))
    }),

    // DIFFERENTIALLY-PRIVATE COUNT RELEASE — the publication side of
    // the privacy ladder (x113/x114/x131 AUDIT a release; this one
    // MAKES one): per-language doc counts with ε=1 Laplace noise via
    // the inverse-CDF transform noise = −sign(u−½)·ln(1−2|u−½|)·(Δ/ε),
    // where u comes from x79's polynomial hash of the cell key mapped
    // to the odd grid (2h+1)/2P — strictly inside (0,1), so the ln
    // singularity at u∈{0,1} is unreachable by construction. The
    // hash-seeded noise makes the release REPRODUCIBLE (auditable,
    // cross-engine oracle-able); a production release swaps the
    // public polynomial for a keyed PRF over the same chain — the
    // plumbing (sensitivity Δ=1 counting query, per-cell independent
    // draws, one aggregate + alphabet-sized map work) is identical.
    // Float: one division, one |·|, one ln, one multiply, one add —
    // c80's deterministic-IEEE-chain rule — then the 2 dp release
    // grid.
    "x134_dp_counts" -> ((spark, sfDir) => {
      val wArr = hashWeights.mkString("array(", "L, ", "L)")
      val h = s"aggregate(sequence(1, least(length(lang), $HashMaxChars)), " +
        s"0L, (acc, i) -> acc + ascii(substring(lang, i, 1)) * " +
        s"element_at($wArr, i))"
      docs(spark, sfDir)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .withColumn("u", expr(
          s"CAST(2 * pmod($h, $HashP) + 1 AS DOUBLE) / ${2 * HashP}"))
        .select(col("lang"), lit(1.0).as("eps"),
          round(col("n").cast("double") +
            (lit(0.0) - signum(col("u") - lit(0.5))) *
              log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))), 2)
            .as("n_noisy"))
        .orderBy(col("lang"))
    }),

    // GOPHER QUALITY RULES — the published Rae et al. heuristic
    // filter set as a corpus report: word count ∈ [50, 10⁵], mean
    // word length ∈ [3, 10], symbol-word ratio ≤ 0.1 (# or ...),
    // bullet-start lines ≤ 90%, ellipsis-end lines ≤ 30%, ≥ 80% of
    // words alphabetic, ≥ 2 distinct function words. Gopher's own
    // 8-word stopword list degenerates on this synthetic vocabulary
    // (only 'the' occurs — 100% kill), so the rule keeps its
    // published SHAPE but draws from the corpus-appropriate
    // [[EnStopwords]] — the same shared signal set x10/x11/x19/x38
    // gate on, so the filters can't drift apart.
    // Every ratio test is a CROSS-MULTIPLIED integer
    // compare (3n ≤ Σlen ≤ 10n, 10·sym > n, 5·alpha < 4n …) — no
    // float ever materializes, so the per-rule kill counts and the
    // surviving-doc count take a full hash oracle. Per-doc work is
    // token/line map arithmetic (shuffle-free); the report is one
    // 1-row aggregate. The corpus is single-line, so the two
    // line-grain rules are exercised as real plumbing that trivially
    // passes here and bites on multi-line crawl text.
    "x135_gopher_rules" -> ((spark, sfDir) =>
      gopherReport(docs(spark, sfDir))),

    // SIMPSON DIVERSITY — the dataset-card "how concentrated is each
    // source" readout (x28 PRESCRIBES a domain mix; this MEASURES the
    // achieved one): per source, the Gini–Simpson index 1 −
    // Σnᵢ(nᵢ−1)/(N(N−1)) over languages — the probability two docs
    // drawn without replacement differ in language (0 = monolingual
    // boilerplate, → 1 = evenly multilingual). The unbiased
    // finite-sample form keeps everything exact-integer (counts and
    // the pairs-same sum) until ONE division at 4 dp — unlike the
    // Σpᵢ² plug-in, which would square floats. Two partial-agg'able
    // groupBys; the cell frame is |source|·|lang|-bounded at any
    // corpus size.
    "x136_simpson_diversity" -> ((spark, sfDir) =>
      simpsonFromCells(
        docs(spark, sfDir).groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n")))
        .orderBy(col("source"))),

    // N-GRAM COVERAGE CURVE — "how much of the corpus do the top-k
    // bigrams carry" (x88 scores WHICH collocations are informative;
    // this measures how CONCENTRATED the phrase mass is — a steep
    // curve means a boilerplate-heavy corpus where a small stop-
    // phrase list buys big dedup/cleaning wins): bigram counts off
    // x46's lake artifact, ranked (count desc, bigram) — an exact
    // total order — with cumulative mass read at k ∈ {10, 100,
    // 1000}; shares are exact rationals with one 4 dp division per
    // row. The rank window runs over the distinct-bigram frame
    // (vocabulary²-bounded support, model-shaped); corpus work is
    // the already-paid bigram artifact.
    "x182_ngram_coverage" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val whole = Window.partitionBy(lit(1))
      val order = Window.partitionBy(lit(1))
        .orderBy(desc("cnt"), col("w1"), col("w2"))
      val cum = Window.partitionBy(lit(1))
        .orderBy(desc("cnt"), col("w1"), col("w2"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bg = bigramTable(spark, sfDir)
        .groupBy(col("w1"), col("w2")).agg(sum(col("bf")).as("cnt"))
      bg.withColumn("rk", row_number().over(order))
        .withColumn("cum", sum(col("cnt")).over(cum))
        .withColumn("total", sum(col("cnt")).over(whole))
        .withColumn("n_distinct", count(lit(1)).over(whole))
        .filter(col("rk").isin(10, 100, 1000))
        .select(col("rk").as("top_k"), col("n_distinct"), col("total"),
          col("cum").as("mass_covered"),
          round(col("cum").cast("double") / col("total").cast("double"), 4)
            .as("coverage"))
        .orderBy(col("top_k"))
    }),

    // HAPAX SHARE — the lexical-richness number beside x77's Zipf
    // slope (Zipf fits the whole frequency curve; the hapax share
    // reads its tail: what fraction of each source's VOCABULARY
    // occurs exactly once — natural text sits near ~half, generated
    // or template text collapses far below): per-source word counts
    // off one explode+combine pass, hapax = count(freq = 1), plus
    // the type-token ratio on the same frame; all exact integers to
    // the two 4 dp divisions.
    "x183_hapax_share" -> ((spark, sfDir) =>
      hapaxFromFreq(docs(spark, sfDir)
        .select(col("source"), explode(tokens).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("freq")))
        .orderBy(col("source"))),

    // YULE'S K — the length-invariant repetitiveness number beside
    // x183's corpus-size-dependent TTR/hapax pair, off the SAME
    // word-frequency frame (one more readout of s30's maintained
    // artifact class) — see [[yulesKFromFreq]].
    "x238_yules_k" -> ((spark, sfDir) =>
      yulesKFromFreq(docs(spark, sfDir)
        .select(col("source"), explode(tokens).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("freq")))),

    // LEXICAL RICHNESS PROFILE — Herdan's C, Guiraud's R, Sichel's
    // S, and Honoré's H off the SAME word-frequency frame as
    // x183/x238 (one artifact, six readouts across the family) —
    // see [[lexicalRichnessFromFreq]].
    "x258_lexical_richness" -> ((spark, sfDir) =>
      lexicalRichnessFromFreq(docs(spark, sfDir)
        .select(col("source"), explode(tokens).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("freq")))),

    // PER-SOURCE LENGTH-DISTRIBUTION KS — "which sources look
    // different from the rest of the corpus" (x159 scores each
    // source's internal inequality; this flags the source whose
    // WHOLE length distribution deviates — the screen that catches a
    // mis-parsed or truncated feed before it trains): for every
    // source, two-sample KS of its doc lengths against ALL OTHER
    // sources, expressed as one (source, half, bucket) count frame —
    // cur = the source, ref = corpus-minus-source derived by
    // broadcast-joining the per-bucket totals (no second corpus
    // pass) — read out through x133's shared `ksReportFromCounts`
    // stage verbatim (exact cumulative BIGINT windows, cross-
    // multiplied sup, distribution-free 1.358 threshold). Width-50
    // length buckets keep per-source state ≤ ~100 rows.
    "x178_source_length_ks" -> ((spark, sfDir) => {
      val b = docs(spark, sfDir)
        .select(col("source"), (col("n_chars") / lit(50)).cast("long")
          .as("bucket"))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_sb"))
      val tot = b.groupBy(col("bucket")).agg(sum(col("n_sb")).as("n_b"))
      // full source×bucket spine: a bucket where THIS source has no
      // docs still carries the rest of the corpus's ref mass there —
      // dropping it would corrupt the ref ECDF exactly where the
      // source is most anomalous
      val spine = b.select(col("source")).distinct()
        .crossJoin(broadcast(tot))
      val cnt = spine.join(b, Seq("source", "bucket"), "left")
        .select(col("source").as("event_type"), col("bucket"),
          coalesce(col("n_sb"), lit(0L)).as("cur_c"),
          (col("n_b") - coalesce(col("n_sb"), lit(0L))).as("ref_c"))
      val shaped = cnt.select(col("event_type"), lit("cur").as("half"),
          col("bucket"), col("cur_c").as("c"))
        .unionByName(cnt.select(col("event_type"), lit("ref").as("half"),
          col("bucket"), col("ref_c").as("c")))
      graft.pipeline.Views.ksReportFromCounts(shaped)
        .select(col("event_type").as("source"), col("n_ref"), col("n_cur"),
          col("ks"), col("d_crit"), col("drifted"))
        .orderBy(col("source"))
    }),

    // CRAMÉR'S V — the ASSOCIATION read of x136's (source, lang)
    // cell table (Simpson asks "how mixed is each source"; V asks
    // "does knowing the source predict the language at all", 0 =
    // independent to 1 = determined — the dataset-card number that
    // says whether a language-stratified sample must also stratify
    // by source). Full-spine contingency chi-square through x161's
    // exact-BIGINT cross-multiplied identity with terms on the 10⁻⁶
    // grid, then V = √(χ²/(N·min(R−1, C−1))) — see cramersVReport.
    // One partial-agg'able docs pass; everything after is R×C-sized.
    "x163_cramers_v" -> ((spark, sfDir) =>
      cramersVReport(
        docs(spark, sfDir).groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n")))),

    // ZIPF SLOPE — the dataset-card "does this source look like
    // natural language" check: OLS slope of log2(freq) against
    // log2(rank) over each source's top-100 word frequencies
    // (natural text ≈ −1; templated/key-mash corpora flatten or
    // cliff). Scale shape: the corpus collapses to per-source word
    // counts first (one partial-aggregatable agg), the rank window
    // runs over the model-sized top slice only. Exactness: the x76
    // discipline — per-term 6 dp rounds absorb log2 ulp skew, the
    // four regression sums accumulate as exact decimals, and the
    // closed-form slope/intercept are a handful of IEEE ops over
    // identical inputs.
    "x77_zipf_slope" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 100
      val wf = docs(spark, sfDir)
        .select(col("source"), explode(tokens).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
      val ranked = wf.withColumn("rank", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(desc("f"), col("w"))))
        .filter(col("rank") <= k)
      val dec = "decimal(18,6)"
      val x = round(log2(col("rank")), 6)
      val y = round(log2(col("f")), 6)
      val sums = ranked
        .select(col("source"), x.cast(dec).as("x"), y.cast(dec).as("y"),
          round(x.cast(dec).cast("double") * y.cast(dec).cast("double"), 6)
            .cast(dec).as("xy"),
          round(x.cast(dec).cast("double") * x.cast(dec).cast("double"), 6)
            .cast(dec).as("xx"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("xy")).cast("double").as("sxy"),
          sum(col("xx")).cast("double").as("sxx"))
      sums
        .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
        .select(col("source"), col("n"),
          round(col("num") / col("den"), 4).as("zipf_slope"),
          round((col("sy") - (col("num") / col("den")) * col("sx")) / col("n"), 4)
            .as("intercept"))
        .orderBy(col("source"))
    }),

    // Quality scoring: length, token count, avg token length,
    // stopword ratio — the filters a data-curation pipeline keys on.
    "x10_text_stats" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .select(
          col("doc_id"),
          col("n_chars"),
          length(col("text")).as("len"),
          size(tokens).as("n_tokens"),
          round(length(regexp_replace(col("text"), " ", "")).cast("double") /
            size(tokens), 4).as("avg_token_len"),
          round(stopwordRatio(tokens), 4).as("stopword_ratio"))
        .orderBy(col("doc_id"))),

    // Language ID: stopword-density heuristic (n-gram/function-word
    // family). The decision rule is SQL-expressible, so it gets a full
    // oracle.
    "x11_lang_id" -> ((spark, sfDir) =>
      langIdPred(spark, sfDir).orderBy(col("doc_id"))),

    // THRESHOLD SWEEP — the hyperparameter table behind x11's 0.05
    // gate (x184 grades the SHIPPED threshold; the sweep shows the
    // whole precision/recall frontier so the cut is a decision, not
    // an accident — x109's threshold-curve idea applied to a
    // classifier): for t ∈ {0.02..0.10 step 0.02}, the predicate
    // ratio ≥ t cross-multiplies to the EXACT integer compare
    // n_stop·100 ≥ n_tok·(100t) — no float ratio is ever compared —
    // off one (n_stop, n_tok, is_en) doc frame crossed with the
    // 5-row broadcast threshold spine; per-threshold cells in one
    // aggregate, x184's exact metric chains. Corpus work = one scan.
    "x185_threshold_sweep" -> ((spark, sfDir) => {
      val base = docs(spark, sfDir).select(
        size(filter(tokens, t => isStopword(t))).cast("long").as("n_stop"),
        size(tokens).cast("long").as("n_tok"),
        (col("lang") === "en").as("t"))
      val spine = broadcast(
        docs(spark, sfDir).sparkSession.range(1, 6)
          .select((col("id") * 2).as("k")))
      base.crossJoin(spine)
        .withColumn("p", col("n_stop") * 100L >= col("n_tok") * col("k"))
        .groupBy(col("k"))
        .agg(sum(when(col("t") && col("p"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("t") && col("p"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("t") && !col("p"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("t") && !col("p"), 1L).otherwise(0L)).as("tn"))
        .select(round(col("k").cast("double") / lit(100.0), 2)
            .as("threshold"),
          col("tp"), col("fp"), col("fn"), col("tn"),
          round(when(col("tp") + col("fp") > 0L, col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double")), 4).as("precision"),
          round(col("tp").cast("double") /
            (col("tp") + col("fn")).cast("double"), 4).as("recall"),
          round(lit(2.0) * col("tp") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"), 4)
            .as("f1"))
        .orderBy(col("threshold"))
    }),

    // CLASSIFIER EVALUATION — confusion matrix + P/R/F1 for the x11
    // language-ID heuristic against the corpus's gold labels (the
    // eval family's missing member: x169 grades RANKING, x149
    // CALIBRATION; this grades the hard DECISIONS a filter actually
    // makes — the table a cleaning-pipeline review reads before
    // trusting a heuristic gate): binary en-vs-rest cells from ONE
    // aggregate over the shared prediction stage, precision/recall/
    // F1/accuracy as exact rationals (F1 via the 2tp/(2tp+fp+fn)
    // identity — no rounded-intermediate composition), macro-F1
    // averaging the two per-class F1 chains before the single 4 dp
    // round. 1-row output; corpus work = x11's one scan.
    "x184_langid_eval" -> ((spark, sfDir) => {
      val cells = langIdPred(spark, sfDir)
        .select((col("labeled_lang") === "en").as("t"),
          (col("pred_lang") === "en").as("p"))
        .agg(sum(when(col("t") && col("p"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("t") && col("p"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("t") && !col("p"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("t") && !col("p"), 1L).otherwise(0L)).as("tn"))
      val f1p = lit(2.0) * col("tp") /
        (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")
      val f1n = lit(2.0) * col("tn") /
        (lit(2L) * col("tn") + col("fn") + col("fp")).cast("double")
      cells.select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double"), 4).as("precision"),
        round(col("tp").cast("double") /
          (col("tp") + col("fn")).cast("double"), 4).as("recall"),
        round(f1p, 4).as("f1"),
        round((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"), 4)
          .as("accuracy"),
        round((f1p + f1n) / lit(2.0), 4).as("macro_f1"))
    }),

    // Tokenizer-style counting: whitespace tokens vs BPE-ish regex
    // tokens (the token-budget accounting of a training pipeline).
    "x12_token_count" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .select(
          col("doc_id"),
          size(tokens).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
            .as("bpe_tokens"))
        .orderBy(col("doc_id"))),

    // TOKENIZER FERTILITY — the tokenizer-choice diagnostic a
    // pretraining pipeline reports per source: how many BPE-ish
    // tokens the tokenizer spends per word and per byte (fertility
    // near 1 = vocabulary fits the corpus; high fertility = the
    // source fragments into sub-word churn and its token budget
    // buys fewer words). Pure map-side length arithmetic (x12's two
    // tokenizers) rolled up with ONE partial-aggregated shuffle on
    // source; exact integer sums, two 4 dp divisions at the end.
    "x96_tokenizer_fertility" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .select(col("source"), length(col("text")).as("chars"),
          size(tokens).as("ws"),
          size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("bpe"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("chars").cast("long")).as("n_chars"),
          sum(col("ws").cast("long")).as("ws_tokens"),
          sum(col("bpe").cast("long")).as("bpe_tokens"))
        .select(col("source"), col("n_docs"), col("n_chars"),
          col("ws_tokens"), col("bpe_tokens"),
          round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4)
            .as("fertility"),
          round(col("n_chars").cast("double") / col("bpe_tokens"), 4)
            .as("bytes_per_token"))
        .orderBy(col("source"))),

    // TF-IDF: term frequency per (doc, term) joined with document
    // frequency per term; idf = ln(N/df). Two hash aggregations plus
    // one equi-join on the term — partial-aggregatable all the way, no
    // skew beyond natural term frequency (the df table is tiny relative
    // to the corpus and AQE broadcast-joins it). SQL-expressible, so it
    // gets a full oracle; scores are ROUNDed identically on both sides
    // and the rounded value is the sort key.
    "x15_tfidf" -> ((spark, sfDir) => {
      // idf's N is a plan literal, resolved from parquet footer counts
      // (cached) — not a full-table count() job per invocation.
      val nDocs = Lake.rowCount(spark, sfDir, "documents")
      // tf feeds two consumers (the join probe and the df aggregation);
      // checkpoint it to the lake so the tokenize+aggregate scan runs
      // once per dataset, not once per plan branch.
      val tf = Lake.materialize(spark, sfDir, TfidfTf)
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(dfreq, "term")
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 4).as("tfidf"))
        .orderBy(col("doc_id"), desc("tfidf"), col("term"))
        .limit(1000)
    }),

    // Within-document repetition scoring (the duplicate-n-gram family
    // of quality gates a curation pipeline runs alongside x10's
    // length/stopword stats): fraction of positional 3-grams and of
    // tokens that are repeats of an earlier occurrence. Shuffle-free
    // map work over array expressions; the flag uses the UNROUNDED
    // ratio on both engines so rounding can never flip it.
    "x26_repetition" -> ((spark, sfDir) => {
      val r3 = repetitionRatio3(tokens)
      val rt = (size(tokens) - size(array_distinct(tokens))).cast("double") /
        size(tokens)
      docs(spark, sfDir)
        .filter(size(tokens) >= 3)
        .select(col("doc_id"),
          round(r3, 4).as("dup_3gram_ratio"),
          round(rt, 4).as("dup_token_ratio"),
          (r3 > 0.02).as("repetitive"))
        .orderBy(col("doc_id"))
    }),

    // PII redaction over the corpus. The provisioned documents carry
    // no natural PII (synthetic word soup), so a deterministic
    // contact line — built IDENTICALLY by the oracle from doc_id —
    // is appended before scrubbing: every row then exercises one real
    // email + one real phone redaction and the oracle is exact and
    // non-vacuous. red_tail pins the substitution bytes at the
    // injection site without dumping whole redacted documents.
    "x24_pii_redact" -> ((spark, sfDir) => {
      val aug = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"),
        lit("@example.com or call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      redactPii(docs(spark, sfDir).select(col("doc_id"), aug.as("aug")), "aug")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          length(col("redacted")).as("red_len"),
          expr("right(redacted, 40)").as("red_tail"))
        .orderBy(col("doc_id"))
    }),

    // UNIGRAM LOG-PROBABILITY quality score — the statistical LM-filter
    // step of corpus curation (next to x10's rule gates): score each
    // doc by the mean log probability of its tokens under the corpus's
    // own unigram model; implausible token soup scores far below
    // natural text. Reuses x15's lake-checkpointed tf table (same
    // artifact, two operators); the model is just one more
    // partial-aggregated shuffle on term, and scoring is a
    // vocabulary-bound equi-join + per-doc aggregate. The per-doc sum
    // of logs is float work whose accumulation order differs across
    // engines — ~1e-13 absolute against a 4 dp round, the same
    // tolerance argument as x07's oracle.
    "x34_unigram_logprob" -> ((spark, sfDir) =>
      unigramLogProb(spark, sfDir).orderBy(col("doc_id"))),

    // Order-2 LM quality score (see bigramLogProb scaladoc).
    "x46_bigram_logprob" -> ((spark, sfDir) =>
      bigramLogProb(spark, sfDir).orderBy(col("doc_id"))),

    // JELINEK-MERCER INTERPOLATED BIGRAM LM — the third classic
    // smoothing beside x46's add-1 and x148's Kneser-Ney: P(w2|w1) =
    // λ·c₁₂/c(w1·) + (1−λ)·c(·w2)/N with λ = 4/5, which at λ∈(0,1)
    // is the mixture a held-out-tuned production LM actually uses
    // (add-1 over-smooths frequent contexts; KN fixes rare-pair bias;
    // JM is the tunable baseline between them). λ = 4/5 makes the
    // probability ONE exact rational (4·c₁₂·N + c₁·c₂)/(5·c₁·N), so
    // the score is ln(num) − ln(den) with both lns over exact
    // BIGINTs, regridded once per MODEL row (x148's rule), and
    // per-doc scores are exact integer sums with one closing
    // division. Scale shape = x46's: the marginals are model-sized,
    // pre-joined into one table, and the doc-grain bigram table
    // shuffles against it ONCE.
    "x198_jm_bigram_lm" -> ((spark, sfDir) => {
      val bfd = bigramTable(spark, sfDir)
      val cbg = bfd.groupBy(col("w1"), col("w2"))
        .agg(sum(col("bf")).as("cbg"))
      val cw1 = bfd.groupBy(col("w1")).agg(sum(col("bf")).as("cw1"))
      val ce2 = bfd.groupBy(col("w2")).agg(sum(col("bf")).as("ce2"))
      val nb = broadcast(bfd.agg(sum(col("bf")).cast("long").as("nb")))
      val model = cbg.join(cw1, "w1").join(ce2, "w2").crossJoin(nb)
        .withColumn("term_fp", round(
          (log((lit(4L) * col("cbg") * col("nb") +
            col("cw1") * col("ce2")).cast("double")) -
            log((lit(5L) * col("cw1") * col("nb")).cast("double"))) *
            1000000.0, 0).cast("long"))
        .select(col("w1"), col("w2"), col("term_fp"))
      bfd.join(model, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(sum(col("bf")).cast("long").as("n_bigrams"),
          round(sum(col("bf") * col("term_fp")).cast("double") /
            (sum(col("bf")).cast("double") * 1000000.0), 4)
            .as("avg_jm_logprob"))
        .orderBy(col("doc_id"))
    }),

    // MUTUAL-INFORMATION TOKEN RANKING — the supervised feature-
    // selection staple (sklearn's mutual_info/chi2 ranking; x163
    // scores ONE pair of columns, this ranks every TOKEN by how much
    // its presence tells you about the source label — the tokens a
    // source classifier or a domain-tagging heuristic should key
    // on): I(token; source) over the 2×|sources| presence table,
    // INCLUDING the absent cells (n_ts = 0 still contributes
    // (n_s/N)·ln(N/(N−n_t)) — dropping them understates MI, x163's
    // zero-cell lesson), via a terms×sources spine left-joined to
    // the presence counts. Every ln takes one exact BIGINT rational
    // onto the 10⁻⁶ grid, the per-token MI numerator is the exact
    // integer Σ count·term_fp, and ONE division lands the readout —
    // x158's no-float-accumulation discipline. Doc-grain work is the
    // shared tfidf_tf artifact + one docs join; the spine is
    // vocabulary×|sources|-sized (model-shaped, not corpus-shaped).
    // Top-20 by (mi desc, token).
    "x174_token_mi" -> ((spark, sfDir) => {
      val tf = Lake.materialize(spark, sfDir, TfidfTf)
      tokenMiReport(tf.select(col("doc_id"), col("term")),
        docs(spark, sfDir).select(col("doc_id"), col("source")))
        .orderBy(desc("mi"), col("term"))
        .limit(20)
    }),

    // TEXTRANK KEYWORDS — Mihalcea & Tarau's unsupervised keyword
    // extraction: PageRank over the content-word co-occurrence graph
    // (words are nodes, adjacency-in-text is an edge), ranking the
    // words most central to how the corpus's vocabulary hangs
    // together — the keyword/tag primitive a curation pipeline runs
    // where no labels exist. Pure composition of shared machinery:
    // edges derive from x46's lake-persisted bigram artifact (one
    // corpus pass, already paid), the symmetric edge set is itself
    // lake-persisted, and [[Graph.pageRankFp]] runs verbatim — the
    // bounded-iteration integer recurrence under a full hash oracle,
    // with x69's per-iteration scale shape (equi-join + partial-
    // agg'able BIGINT sum; dangling mass provably zero on symmetric
    // edges). Top-20 by (rank desc, word).
    "x164_textrank" -> ((spark, sfDir) => {
      Graph.iterate(Lake.materialize(spark, sfDir, TextrankAdj),
        Lake.materialize(spark, sfDir, TextrankNodes), iters = 3)
        .orderBy(desc("rank_fp"), col("node"))
        .limit(20)
        .select(col("node").as("keyword"), col("rank_fp"))
    }),

    // KNESER–NEY SMOOTHED BIGRAM — the published-smoothing upgrade of
    // x46 (see knBigramLogProb scaladoc): continuation counts instead
    // of add-1, exact-rational probabilities, integer-grid scores.
    "x148_kneser_ney" -> ((spark, sfDir) =>
      knBigramLogProb(spark, sfDir).orderBy(col("doc_id"))),

    // BIGRAM CONDITIONAL ENTROPY — the corpus's entropy RATE beside
    // x76's character entropy (x76 reads symbol diversity; H(w₂|w₁)
    // reads how PREDICTABLE the next word is given the last — the
    // redundancy/templatedness number an LM-data card quotes, and
    // the quantity perplexity exponentiates): off x46's lake-
    // persisted bigram artifact, H = Σ (c₁₂/N)·ln(c₁/c₁₂) with each
    // ln-difference regridded once per MODEL row (x148's rule) and
    // multiplied by the exact integer c₁₂ — order-free integer sums,
    // ONE closing division. Model-sized frames only after the
    // already-paid corpus pass.
    "x289_bigram_entropy" -> ((spark, sfDir) => {
      def dd(c: Column) = c.cast("double")
      val cbg = bigramTable(spark, sfDir)
        .groupBy(col("w1"), col("w2")).agg(sum(col("bf")).as("c12"))
      val cw1 = cbg.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      cbg.join(cw1, "w1")
        .withColumn("t_fp", col("c12") *
          round((log(dd(col("c1"))) - log(dd(col("c12")))) * 1000000.0, 0)
            .cast("long"))
        .agg(count(lit(1)).as("n_bigram_types"),
          sum(col("c12")).as("n_events"), sum(col("t_fp")).as("h_fp"))
        .select(col("n_bigram_types"), col("n_events"),
          when(col("n_events") > 0L,
            round(col("h_fp").cast("double") /
              (col("n_events").cast("double") * 1000000.0), 4))
            .as("h_cond_nats"))
    }),

    // GOOD–TURING UNSEEN MASS — "how much probability should the LM
    // reserve for words it has never seen?" (the leave-one-out
    // estimate under every classic smoother; also the corpus-growth
    // readout beside x44/x190 — a high N₁/N says the vocabulary is
    // nowhere near saturated): off the shared tf artifact's
    // count-of-counts, P₀ = N₁/N exactly, plus the first two
    // Good–Turing adjusted counts r* = (r+1)·N_{r+1}/N_r — pure
    // exact-integer rationals, one division each, vocabulary-sized
    // frames.
    "x290_good_turing" -> ((spark, sfDir) =>
      goodTuringFromTermCounts(
        Lake.materialize(spark, sfDir, TfidfTf)
          .groupBy(col("term")).agg(sum(col("tf")).as("r")))),

    // Cross-source domain-affinity matrix (see domainAffinity
    // scaladoc): S² rows of pairwise LM cross-entropy.
    "x95_domain_affinity" -> ((spark, sfDir) =>
      domainAffinity(docs(spark, sfDir).select(col("source"), col("text")))
        .orderBy(col("source_a"), col("source_b"))),

    // CONTENT-DEFINED CHUNKING — the insertion-resilient chunking
    // storage/dedup systems use (FastCDC's idea at token grain):
    // a chunk boundary falls AFTER any token whose content hash ≡ 0
    // mod 8 (expected chunk ≈ 8 tokens), so boundaries are a pure
    // function of LOCAL content — prepending a token shifts every
    // x35-style fixed window but leaves every content-defined
    // boundary attached to its token. The report is the dedup
    // payoff: per doc, chunk count and how many of its chunks appear
    // verbatim in other documents (chunk keys are md5 — constant-
    // width shuffle). Uses x79's engine-exact polynomial token hash.
    "x115_cdc_chunks" -> ((spark, sfDir) => {
      val chunks = cdcChunkTable(docs(spark, sfDir)
        .select(col("doc_id"), col("text")))
      val shared = chunks.groupBy(col("ck"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select(col("ck"))
      chunks.join(shared, Seq("ck"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .join(chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks")),
          Seq("doc_id"), "right")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared_chunks"))
        .orderBy(col("doc_id"))
    }),

    // CDC STORAGE SAVINGS — x115's payoff as one number (the
    // storage-system dedup ratio): keep each distinct chunk ONCE and
    // the corpus shrinks from total chunk-token mass to
    // distinct-chunk mass. Distinct mass takes each chunk key's
    // token count once (min ≡ max — identical content, asserted by
    // construction via the md5 key); savings is the single-division
    // 4 dp chain. This is exactly what a dedup ratio means in a
    // content-addressed store, computed declaratively.
    "x116_cdc_savings" -> ((spark, sfDir) => {
      val chunks = cdcChunkTable(docs(spark, sfDir)
        .select(col("doc_id"), col("text")))
      val tot = chunks.agg(count(lit(1)).as("n_instances"),
        sum(col("n_tokens")).as("tokens_total"))
      val dist = chunks.groupBy(col("ck"))
        .agg(min(col("n_tokens")).as("t1"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("t1")).as("tokens_distinct"))
      tot.crossJoin(broadcast(dist))
        .select(col("n_instances"), col("n_distinct"),
          col("tokens_total"), col("tokens_distinct"),
          round(lit(100.0) * (lit(1.0) -
            col("tokens_distinct").cast("double") / col("tokens_total")), 4)
            .as("savings_pct"))
    }),

    // K-ANONYMITY AUDIT — the privacy-risk sibling of x24's PII
    // redaction: even with explicit identifiers scrubbed, a record
    // is re-identifiable when its QUASI-IDENTIFIER combination
    // (here: lang × source × 50-char length bucket) is shared by
    // fewer than k = 5 documents. The report is the equivalence-
    // class-size histogram with each size's risk flag — the number a
    // release review reads before publishing a corpus with metadata
    // attached. One partial-aggregated groupBy to the class table
    // (bounded by the quasi-identifier product, never corpus-sized),
    // one more to the histogram.
    "x113_k_anonymity" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .select(col("lang"), col("source"),
          expr("n_chars DIV 50").as("len_bucket"))
        .groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("class_size"))
        .groupBy(col("class_size"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("class_size")).as("n_docs"))
        .select(col("class_size"), col("n_classes"),
          col("n_docs"), (col("class_size") < 5).as("risky"))
        .orderBy(col("class_size"))),

    // BOILERPLATE CHUNK DETECTION — template discovery at CDC-chunk
    // grain: per source, the chunk recurring across the most
    // DISTINCT documents (headers, footers, injected notices — the
    // content a crawl-cleaning pass strips). Chunk keys come from
    // the shared x115 chunker; the per-source argmax is a window
    // over the (source, recurring-chunk) frame — already collapsed
    // to distinct-doc counts, bounded far below the corpus — with
    // the (count desc, key asc) deterministic tiebreak. Only chunks
    // seen in ≥ 2 docs of the source qualify (a unique chunk is not
    // a template).
    "x118_boilerplate_chunks" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(spark, sfDir).select(col("doc_id"), col("text"))
      val chunks = cdcChunkTable(d)
      val withSrc = chunks.join(
        docs(spark, sfDir).select(col("doc_id"), col("source")), "doc_id")
      val counts = withSrc.groupBy(col("source"), col("ck"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
      val w = Window.partitionBy(col("source"))
        .orderBy(desc("n_docs"), col("ck"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("source"), col("ck").as("chunk_key"), col("n_docs"))
        .orderBy(col("source"))
    }),

    // GENERALIZATION LADDER — the repair step after x113 flags risk:
    // how much quasi-identifier coarsening (length buckets 50 → 100
    // → 200) buys how much k-anonymity. Widths are nested multiples,
    // so every coarser class is a UNION of finer ones — class sizes
    // only grow, risky mass is provably non-increasing down the
    // ladder (the monotonicity the unit test pins). A release review
    // reads the ladder to pick the cheapest generalization clearing
    // its risk budget. Three bounded aggregations, one per rung.
    "x117_anonymity_ladder" -> ((spark, sfDir) =>
      Seq(50, 100, 200).map { wdt =>
        docs(spark, sfDir)
          .select(col("lang"), col("source"),
            expr(s"n_chars DIV $wdt").as("len_bucket"))
          .groupBy(col("lang"), col("source"), col("len_bucket"))
          .agg(count(lit(1)).as("class_size"))
          .agg(count(lit(1)).as("n_classes"),
            coalesce(sum(when(col("class_size") < 5, col("class_size"))), lit(0L))
              .as("n_risky_docs"),
            sum(col("class_size")).as("n_docs"))
          .select(lit(wdt).as("bucket_width"), col("n_classes"),
            col("n_risky_docs"),
            round(lit(100.0) * col("n_risky_docs").cast("double") /
              col("n_docs"), 4).as("risky_pct"))
      }.reduce(_ unionByName _)
        .orderBy(col("bucket_width"))),

    // L-DIVERSITY AUDIT — k-anonymity's necessary complement: a
    // class can be large (k-safe) yet leak its SENSITIVE attribute
    // when every member shares it (the homogeneity attack). Here the
    // quasi-identifiers are (source, length bucket) and the
    // sensitive attribute is lang: per class, the distinct-lang
    // count l, reported as an (l, class-size-band) histogram with
    // the l ≥ 2 bar. A release review reads x113 and this TOGETHER —
    // classes failing either bar need generalization before the
    // corpus ships with metadata. Same two bounded aggregations.
    "x114_l_diversity" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .select(col("source"), expr("n_chars DIV 50").as("len_bucket"),
          col("lang"))
        .groupBy(col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("lang")).as("l"))
        .groupBy(col("l"), (col("class_size") >= 5).as("k_safe"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("class_size")).as("n_docs"))
        .select(col("l"), col("k_safe"), col("n_classes"), col("n_docs"),
          (col("l") >= 2).as("l_safe"))
        .orderBy(col("l"), col("k_safe"))),

    // T-CLOSENESS — the third rung of the privacy ladder (x113
    // k-anonymity: classes big enough; x114 l-diversity: enough
    // sensitive values per class; t-closeness: the class's sensitive
    // DISTRIBUTION must stay close to the corpus's, or class
    // membership itself leaks the attribute even when l is high). For
    // the categorical sensitive attribute the distance is total
    // variation, computed EXACTLY in cross-multiplied integers:
    // Σ_v |c_gv·N − C_v·n_g| over present values plus (N − ΣC_v)·n_g
    // for the absent ones, divided once by 2·n_g·N (the single float
    // op) and rounded 4 dp. Scale shape: one cell-grain hash agg over
    // the corpus, a broadcast value-marginal join, a class-grain agg
    // — no per-row work beyond the first aggregation.
    "x131_t_closeness" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir).select(col("source"),
        expr("n_chars DIV 50").as("len_bucket"), col("lang"))
      val cell = d.groupBy(col("source"), col("len_bucket"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val grp = cell.groupBy(col("source"), col("len_bucket"))
        .agg(sum(col("c")).as("n_g"))
      val glob = broadcast(d.groupBy(col("lang"))
        .agg(count(lit(1)).as("cv")))
      val tot = broadcast(d.agg(count(lit(1)).as("n")))
      cell.join(grp, Seq("source", "len_bucket"))
        .join(glob, "lang").crossJoin(tot)
        .groupBy(col("source"), col("len_bucket"))
        .agg(max(col("n_g")).as("n_g"), max(col("n")).as("n"),
          sum(abs(col("c") * col("n") - col("cv") * col("n_g"))).as("s1"),
          sum(col("cv")).as("s2"))
        .select(col("source"), col("len_bucket"),
          col("n_g").as("class_size"),
          round((col("s1") + (col("n") - col("s2")) * col("n_g"))
            .cast("double") /
            (lit(2L) * col("n_g") * col("n")).cast("double"), 4).as("t"))
        .withColumn("t_safe", col("t") <= 0.5)
        .orderBy(col("source"), col("len_bucket"))
    }),

    // PHRASE SEARCH over a positional inverted index — the serving
    // pattern of a corpus search system: posting lists (doc, pos,
    // term) for each phrase term, re-keyed to a common anchor
    // position (pos − i for the i-th term) and 3-way equi-joined on
    // (doc, anchor) — occurrences materialize from index lookups,
    // never a corpus text scan. The query phrase (tokens 3–5 of doc
    // 0) derives as a 1-row broadcast, so the whole plan is
    // index-joins against three term-filtered posting projections.
    // The oracle is deliberately the OTHER algorithm — a sliding
    // window over each document — so a position-bookkeeping bug
    // (off-by-one anchors, boundary terms) hash-fails rather than
    // being shared by both sides.
    "x111_phrase_search" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir).select(col("doc_id"), col("text"))
      val phrase = broadcast(d.filter(col("doc_id") === 0)
        .select(slice(split(col("text"), " "), 3, 3).as("q")))
      phraseOccurrences(d, phrase).orderBy(col("doc_id"))
    }),

    // BM25 RANKED RETRIEVAL — the relevance RANKER a search endpoint
    // orders by, next to x111's boolean phrase match and x15's
    // TF-IDF feature. Query "join filter vector", k1 = 1.2,
    // b = 0.75, both folded into exact-integer rationals: with
    // L = Σ len and N = doc count, the tf normalization
    // tf·(k1+1)/(tf + k1(1−b) + k1·b·len·N/L) multiplies through by
    // 10·L into 22·tf·L / (10·L·tf + 3·L + 9·N·len) — ONE correctly-
    // rounded division over BIGINTs — and the Lucene-shape idf
    // ln(1 + (N−df+½)/(df+½)) simplifies to ln((2N+2)/(2df+1)):
    // exact integer arguments, ONE ln (x34/x88's proven cross-engine
    // pattern; the +1 keeps idf positive where df > N/2, which this
    // dense corpus hits on every query term). Factors round at 6 dp,
    // the ≤3 per-doc term scores sum under a 4 dp round, top-10 by
    // (rounded score, doc_id). Scale shape: the postings join is
    // bounded by the query's terms — serve-time cost is index
    // lookups, never a corpus scan — df/len/L ride the shared
    // lake-checkpointed tf artifact, and the top-10 is
    // TakeOrderedAndProject, not a global sort.
    "x119_bm25_topk" -> ((spark, sfDir) => {
      val tf = Lake.materialize(spark, sfDir, TfidfTf)
      bm25FromTf(tf, Seq("join", "filter", "vector"))
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(10)
    }),

    // QUERY-LIKELIHOOD RETRIEVAL — the LM-based ranker family next to
    // x119's BM25 (the two classic probabilistic retrieval models;
    // real engines ship both): rank by the probability the document's
    // Dirichlet-smoothed language model generates the query. The
    // smoothing term is what BM25's shape doesn't exercise — a doc
    // MISSING a query term still scores µ·ctf/(L·(len+µ)) — so the
    // scoring frame is the doc-lengths × query-terms spine
    // left-joined to the postings (x105's no-silent-holes rule at
    // scoring grain; 3·N rows, linear). Same exactness discipline as
    // x119: integer rationals through one ln per cell (see
    // qlFromTf). ctf (collection term frequency), not df, is the
    // model's corpus statistic — the distinction between the two
    // rankers' index requirements.
    "x124_query_likelihood" -> ((spark, sfDir) => {
      val tf = Lake.materialize(spark, sfDir, TfidfTf)
      qlFromTf(tf, Seq("join", "filter", "vector"))
        .orderBy(desc("ql"), col("doc_id"))
        .limit(10)
    }),

    // PSEUDO-RELEVANCE-FEEDBACK EXPANSION — the two-stage retrieval
    // loop every serious search stack runs (RM-style): retrieve
    // BM25's top-3 for the original query, mine the 2 heaviest
    // non-query terms from those feedback docs (Σ tf, tiebreak on
    // term — the deterministic stand-in for RM1's probability
    // weights), and re-rank with the EXPANDED 5-term query through
    // the same scorer. The second pass needs a runtime term set, so
    // it runs the dynamic-query variant (bm25DynamicFromTf — join on
    // a broadcast term frame instead of a literal isin). Scale
    // shape: pass 1 is x119's bounded plan, mining is one aggregate
    // over 3 docs' postings with a TakeOrdered 2-slice, pass 2 is
    // again postings-bounded — the whole loop never re-scans the
    // corpus text.
    "x125_prf_expansion" -> ((spark, sfDir) => {
      val q0 = Seq("join", "filter", "vector")
      val tf = Lake.materialize(spark, sfDir, TfidfTf)
      val top3 = bm25FromTf(tf, q0)
        .orderBy(desc("bm25"), col("doc_id")).limit(3)
        .select(col("doc_id"))
      val expansion = tf.join(broadcast(top3), "doc_id")
        .filter(!col("term").isin(q0: _*))
        .groupBy(col("term")).agg(sum(col("tf")).as("w"))
        .orderBy(desc("w"), col("term")).limit(2)
        .select(col("term"))
      import spark.implicits._
      val terms = expansion.unionByName(q0.toDF("term"))
      bm25DynamicFromTf(tf, terms)
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(10)
    }),

    // RESULT-SNIPPET GENERATION — the serving-side highlighter that
    // turns x119's ranked doc_ids into what a user actually sees: for
    // each of BM25's top-5 docs, the 8-token window with the most
    // query-term hits (earliest-start tiebreak). The window
    // enumeration is hit-driven — each posting votes for the ≤8
    // windows covering it — so cost is hits·8 per served doc, never
    // doc-length·8, and only the 5 SERVED docs are touched at all
    // (the serve-time shape: snippets are per-result work, not corpus
    // work). The oracle is deliberately the OTHER algorithm — a full
    // per-doc window scan counting term hits in every window — so an
    // off-by-one in the vote range hash-fails rather than being
    // shared (x111's adversarial-oracle rule).
    "x126_snippets" -> ((spark, sfDir) => {
      val q0 = Seq("join", "filter", "vector")
      val tf = Lake.materialize(spark, sfDir, TfidfTf)
      val top5 = bm25FromTf(tf, q0)
        .orderBy(desc("bm25"), col("doc_id")).limit(5)
        .select(col("doc_id"))
      val d = docs(spark, sfDir).join(broadcast(top5), "doc_id")
        .select(col("doc_id"), tokens.as("toks"))
      snippetWindows(d, q0, win = 8).orderBy(col("doc_id"))
    }),

    // TOKENIZER ENCODE — the consumption side of x121's training:
    // apply the two learned merges to the WHOLE corpus and report,
    // per source, the sequence-length compression they buy (symbols
    // before = characters; symbols after = post-merge count) — the
    // bytes-per-token delta a tokenizer choice is actually judged by
    // (x96 reports fertility for a FIXED tokenizer; this measures the
    // trained one). Work stays at vocab grain: merges derive once
    // from the corpus-level word table, application runs over the
    // per-(source, word) frequency frame (vocab × sources rows), and
    // per-source totals are frequency-weighted sums — the corpus
    // text is scanned once, at tokenize time.
    "x128_bpe_encode" -> ((spark, sfDir) => {
      val wf = docs(spark, sfDir)
        .select(explode(tokens).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wf"))
      val seq0 = wf.select(col("w"),
        concat(regexp_replace(col("w"), "(.)", "|$1"), lit("|")).as("seq"),
        col("wf"))
      def top1(c: DataFrame) = broadcast(
        c.orderBy(desc("pair_count"), col("a"), col("b")).limit(1))
      val m1 = top1(bpePairCounts(seq0))
      val m2 = top1(bpePairCounts(bpeApply(seq0, m1)))
      // each DISTINCT word encodes once; sources weight by frequency
      val wordSym = bpeApply(bpeApply(seq0, m1), m2)
        .select(col("w"), length(col("w")).as("n_chars"),
          size(expr("filter(split(seq, '\\\\|'), s -> s <> '')")).as("n_sym"))
      val bySrc = docs(spark, sfDir)
        .select(col("source"), explode(tokens).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("swf"))
      bySrc.join(wordSym, "w")
        .groupBy(col("source"))
        .agg(sum(col("swf") * col("n_chars")).as("symbols_before"),
          sum(col("swf") * col("n_sym")).as("symbols_after"))
        .select(col("source"), col("symbols_before"), col("symbols_after"),
          round(lit(100.0) * (lit(1.0) -
            col("symbols_after").cast("double") / col("symbols_before")), 4)
            .as("compression_pct"))
        .orderBy(col("source"))
    }),

    // Bounded-state top-10 frequent tokens (see heavyHitters
    // scaladoc): m = 200 comfortably covers the corpus vocabulary's
    // flattest plausible distribution (every token's frequency is
    // ≈ N/|V| with |V| ≪ 200, so top-10 counts far exceed N/200 and
    // the Misra-Gries superset guarantee makes the exact pass
    // partition-independent).
    "x101_heavy_hitters" -> ((spark, sfDir) =>
      heavyHitters(docs(spark, sfDir), m = 200, k = 10)
        .orderBy(desc("freq"), col("token"))),

    // RAG-STYLE SLIDING-WINDOW CHUNKING: cut each document into
    // overlapping 32-token chunks on a 24-token stride (8-token
    // overlap) — the retrieval-indexing twin of x31's non-overlapping
    // passages. Chunk count = 1 for docs ≤ 32 tokens, else
    // 1 + ceil((n-32)/24), so every token is covered and the tail
    // never degenerates into a chunk fully contained in the previous
    // one. Shuffle-free map work: tokenize ONCE into a projected
    // column (x31's hoisting rule — a split() inside the lambda would
    // re-tokenize per chunk), build the chunk structs in-row, inline.
    "x35_doc_chunk" -> ((spark, sfDir) => {
      val C = 32; val S = 24
      docs(spark, sfDir)
        .withColumn("_toks", tokens)
        .withColumn("_nc",
          when(size(col("_toks")) <= C, lit(1))
            .otherwise(expr(s"1 + (size(_toks) - $C + ${S - 1}) DIV $S")))
        .select(col("doc_id"), inline(expr(
          s"transform(sequence(0, _nc - 1), i -> struct(" +
            s"CAST(i AS BIGINT) AS chunk_id, " +
            s"size(slice(_toks, i * $S + 1, $C)) AS n_chunk_tokens, " +
            s"array_join(slice(_toks, i * $S + 1, $C), ' ') AS chunk_text))")))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // QUALITY-GATE ENSEMBLE — the classifier-combination step of
    // curation: the rule gate (x10's stopword density), the
    // repetition gate (x26's duplicate-3-gram ratio), and the
    // statistical LM gate (x34's unigram log-prob) folded into one
    // per-doc verdict. The LM gate compares the ROUNDED score (4 dp,
    // x34's oracle convention) against a fixed threshold so the
    // boolean is as reproducible as the score column itself; the rule
    // gates divide exact integer counts, deterministic on both
    // engines. Scale shape: the union of its parts — map-work gates
    // on the scan plus x34's vocabulary-bound join over the SHARED
    // lake-checkpointed tf table (one more consumer of the same
    // artifact), then a doc-keyed equi-join of the two per-doc sides.
    "x38_quality_ensemble" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val rules = d.select(col("doc_id"),
        (stopwordRatio(tokens) >= 0.05).as("gate_stopword"),
        (repetitionRatio3(tokens) <= 0.02).as("gate_repetition"))
      val lm = unigramLogProb(spark, sfDir).select(col("doc_id"), col("avg_logprob"))
      rules.join(lm, "doc_id")
        .withColumn("gate_logprob", col("avg_logprob") >= -3.41)
        .withColumn("n_gates",
          col("gate_stopword").cast("int") + col("gate_repetition").cast("int") +
            col("gate_logprob").cast("int"))
        .withColumn("verdict",
          when(col("n_gates") === 3, "keep")
            .when(col("n_gates") === 2, "review").otherwise("drop"))
        .select(col("doc_id"), col("gate_stopword"), col("gate_repetition"),
          col("gate_logprob"), col("n_gates"), col("verdict"))
        .orderBy(col("doc_id"))
    }),

    // KR-20 GATE RELIABILITY — do x38's three quality gates measure
    // one trait? Cronbach's alpha for binary items over the same
    // gate frame, exact integers to one division — see
    // [[kr20FromItems]].
    "x272_kr20_alpha" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val rules = d.select(col("doc_id"),
        (stopwordRatio(tokens) >= 0.05).cast("long").as("a"),
        (repetitionRatio3(tokens) <= 0.02).cast("long").as("b"))
      val lm = unigramLogProb(spark, sfDir).select(col("doc_id"),
        (col("avg_logprob") >= -3.41).cast("long").as("c"))
      kr20FromItems(rules.join(lm, "doc_id"))
    }),

    // FLEISS' KAPPA — chance-corrected agreement of the three gate
    // votes (the multi-rater complement of x194's two-rater κ and
    // x272's scale-consistency α) — see [[fleissKappaFromItems]].
    "x273_fleiss_kappa" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val rules = d.select(col("doc_id"),
        (stopwordRatio(tokens) >= 0.05).cast("long").as("a"),
        (repetitionRatio3(tokens) <= 0.02).cast("long").as("b"))
      val lm = unigramLogProb(spark, sfDir).select(col("doc_id"),
        (col("avg_logprob") >= -3.41).cast("long").as("c"))
      fleissKappaFromItems(rules.join(lm, "doc_id"))
    }),

    // SHANNON DIVERSITY PARTITION — Jost's α/β/γ vocabulary
    // decomposition with the effective between-source turnover —
    // see [[diversityPartitionFromFreq]].
    "x274_diversity_partition" -> ((spark, sfDir) =>
      diversityPartitionFromFreq(docs(spark, sfDir)
        .select(col("source"), explode(tokens).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("freq")))),

    // CORPUS STATISTICS REPORT — the per-source "dataset card" a
    // training pipeline publishes next to the data: doc/token volumes,
    // token-length percentiles, language diversity, and the corpus
    // stopword rate. Reproducibility discipline: the stopword rate is
    // total-stopwords / total-tokens — two exact integer sums and ONE
    // double division — NOT a mean of per-doc double ratios, whose
    // accumulation order would differ across engines; the percentiles
    // are exact interpolated quantiles (c42's cross-engine contract).
    // One partial-aggregatable hash agg; output is sources-sized.
    "x42_corpus_stats" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .select(col("source"), col("lang"),
          size(tokens).as("n_toks"),
          size(filter(tokens, t => isStopword(t))).as("n_stop"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("total_tokens"),
          round(expr("percentile(n_toks, 0.5)"), 4).as("p50_tokens"),
          round(expr("percentile(n_toks, 0.9)"), 4).as("p90_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          (sum(col("n_stop")).cast("double") /
            sum(col("n_toks"))).as("stop_rate"))
        .orderBy(col("source"))),

    // VOCABULARY-GROWTH CURVE (Heaps' law) — types vs tokens as the
    // corpus grows in doc_id order, the diversity diagnostic that
    // tells a data curator when a source stops contributing new
    // vocabulary. A token's arrival position is its MIN doc_id (one
    // hash groupBy over the exploded tokens — partial-aggregatable);
    // bucketing doc_ids (width 50) collapses the curve to a
    // model-sized table, so the running sums ride a window over
    // buckets, never over the corpus: at 100 TB pick a bucket width
    // that keeps the bucket table in the thousands of rows and the
    // single-task window stays trivially bounded (the Prefix.scala
    // discipline — this is its small-domain fast path).
    "x44_vocab_growth" -> ((spark, sfDir) =>
      vocabGrowthCurve(spark, sfDir).orderBy(col("bucket"))),

    // HEAPS'-LAW FIT — the scaling-law READOUT of the type-growth
    // curve (x44 plots it; this fits V ≈ K·nᵝ and reports the
    // exponent — the one number that predicts how much NEW vocabulary
    // another 10× of this source buys, the curator's
    // diminishing-returns dial; β the direct analog of x172's
    // power-law α for Heaps' regime). The fit runs over 3-GRAM
    // SHINGLE types (the x05 lake artifact), not word types: this
    // corpus's word vocabulary saturates at 31 types inside the first
    // bucket (y-variance 0 → the OLS denominator vanishes — the
    // degenerate case the guards below surface as NULL), while the
    // ~16k shingle types grow the textbook concave curve; n-gram
    // types are the standard Heaps domain when the unigram alphabet
    // is tiny. Log-log OLS: both coordinates land on the 10⁻⁶ ln grid
    // (ln over exact BIGINT cumulative counts — x158's rule), the
    // five OLS sums are exact BIGINT aggregates of grid products, and
    // slope/intercept/R² are fixed scalar expressions over those
    // sums. Scale shape: two hash aggs over the shared shingle
    // artifact, then everything runs on the ≤|corpus|/50-row bucket
    // frame; at 100 TB widen the bucket so the frame stays in the
    // thousands and the fit is free.
    "x190_heaps_fit" -> ((spark, sfDir) => {
      val pts = shingleGrowthCurve(spark, sfDir)
        .select(
          round(log(col("cum_tokens").cast("double")) * 1000000.0, 0)
            .cast("long").as("x_fp"),
          round(log(col("vocab_size").cast("double")) * 1000000.0, 0)
            .cast("long").as("y_fp"))
      pts.agg(
        count(lit(1)).as("n_points"),
        sum(col("x_fp")).as("sx"), sum(col("y_fp")).as("sy"),
        sum(col("x_fp") * col("x_fp")).as("sxx"),
        sum(col("x_fp") * col("y_fp")).as("sxy"),
        sum(col("y_fp") * col("y_fp")).as("syy"))
        .withColumn("dx", col("n_points") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
        .withColumn("dy", col("n_points") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double"))
        .withColumn("cxy", col("n_points") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double"))
        .select(col("n_points"),
          when(col("dx") =!= 0.0, round(col("cxy") / col("dx"), 6))
            .as("beta"),
          when(col("dx") =!= 0.0,
            round(((col("sy").cast("double") -
              (col("cxy") / col("dx")) * col("sx").cast("double")) /
              col("n_points").cast("double")) / 1000000.0, 6)).as("ln_k"),
          when(col("dx") =!= 0.0 && col("dy") =!= 0.0,
            round(col("cxy") * col("cxy") / (col("dx") * col("dy")), 6))
            .as("r2"))
    }),

    // SHINGLE NOVELTY — fraction of a document's distinct 3-grams
    // first seen in THAT document (corpus in doc_id order): the
    // freshness signal a curriculum/ordering pipeline keys on, and
    // x44's vocabulary-growth idea pushed down to per-document
    // grain. Scale shape (reworked after the r9 bench flagged this as
    // the slowest headline query): the shingle table is the SHARED
    // lake artifact x05 checkpoints (one tokenize+explode per corpus
    // fingerprint across all consumers), and the old join-back on the
    // STRING shingle key is gone — n_novel(d) = |{shingles whose
    // first_doc = d}| comes from re-aggregating the first-arrival
    // table by doc, so the plan is two partial-aggregatable hash aggs
    // off one parquet scan plus a doc-keyed join of two doc-sized
    // sides. Nothing corpus-sized is ever shuffled twice. All counts
    // exact integers, one division.
    "x50_novelty" -> ((spark, sfDir) => {
      val sh = Lake.materialize(spark, sfDir, Dedup.X05Shingles)
      val perDoc = sh.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"))
      val novel = sh.groupBy(col("shingle"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_shingles"), 4)
            .as("novelty"))
        .orderBy(col("doc_id"))
    }),

    // TOKENIZER-VOCAB COVERAGE — the report that sizes a tokenizer's
    // vocabulary before training it: what fraction of all token
    // OCCURRENCES the top-K types cover, at K = 10/100/1000. Each K
    // is one TakeOrdered(K) over the type-count table (deterministic
    // count-desc/token-asc tiebreak) + a K-row sum — never a global
    // cumulative window over the vocabulary, which at 100 TB can be
    // billions of types. Counts exact; one division per row.
    "x52_vocab_coverage" -> ((spark, sfDir) => {
      val counts = docs(spark, sfDir)
        .select(explode(tokens).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val total = broadcast(counts.agg(sum(col("cnt")).as("_total")))
      Seq(10, 100, 1000).map { k =>
        counts.orderBy(desc("cnt"), col("token")).limit(k)
          .agg(lit(k).as("k"), sum(col("cnt")).cast("long").as("covered"))
      }.reduce(_ union _)
        .crossJoin(total)
        .select(col("k"), col("covered"),
          round(col("covered").cast("double") / col("_total"), 6)
            .as("coverage"))
        .orderBy(col("k"))
    }),

    // QUALITY QUARTILE BINNING — the curriculum building block — done
    // the way that survives 100 TB: quartile BOUNDARIES come from one
    // percentile aggregate and are broadcast; assignment is stateless
    // map work. The naive NTILE(4) OVER (ORDER BY score) would
    // materialize the whole corpus in a single window task — the exact
    // anti-pattern Prefix.scala exists to avoid. Boundaries are
    // DISCRETE percentiles (actual data values — quotients of small
    // integers, bit-identical on any engine), not interpolated ones:
    // an interpolated boundary is float arithmetic that two engines
    // can disagree on by 1 ulp, and a ratio sitting between the two
    // variants flips quartile (which for a rounded-grid boundary
    // actually happened in review). Convention caveat: the
    // SQL-standard PERCENTILE_DISC rank ceil(q*n)-1 and the
    // index-based floor(q*(n-1)) pick the same element whenever q*n
    // is integral (e.g. n=7, q=0.75 picks index 5 vs 4) — the
    // provisioned corpus sizes are multiples of 4, so the oracle's
    // quantile_disc agrees here; a corpus where 4∤n would need both
    // sides pinned to one convention. At 100 TB swap the exact
    // percentile for approx_percentile: bin boundaries don't need
    // exactness, the assignment rule doesn't change.
    "x51_quality_tiles" -> ((spark, sfDir) => {
      val scored = docs(spark, sfDir)
        .select(col("doc_id"), stopwordRatio(tokens).as("_r"))
      val bounds = broadcast(scored.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY _r)").as("_b1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _r)").as("_b2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY _r)").as("_b3")))
      scored.crossJoin(bounds)
        .select(col("doc_id"), round(col("_r"), 4).as("ratio"),
          when(col("_r") <= col("_b1"), 1)
            .when(col("_r") <= col("_b2"), 2)
            .when(col("_r") <= col("_b3"), 3)
            .otherwise(4).as("tile"))
        .orderBy(col("doc_id"))
    }),

    // ROBUST LENGTH-OUTLIER FLAGGING — |len − median| > 3·MAD, the
    // quantile-based filter a pipeline uses where mean/stddev would be
    // dragged by the very outliers it hunts. All comparisons run on a
    // DOUBLED-INTEGER grid: interpolated medians of integers land on
    // exact halves, so 2·median and 2·MAD···(×2 again) are exact
    // BIGINTs and the flag `2·dev2 > 3·m4` is pure integer compare —
    // no float threshold for two engines to disagree on (x76/x77's
    // decimal-grid discipline, here with zero float ops at all). Two
    // scalar aggregates broadcast against one stateless map pass; at
    // 100 TB both medians swap to approx_percentile unchanged.
    // Non-vacuity (x71's pattern): the provisioned lengths are
    // uniform — a distribution whose max deviation sits under 3·MAD
    // by construction — so an 8×-stretched twin of every 500th doc
    // (id +3·10⁶) is unioned in; the flag must catch every stretch.
    "x84_mad_outliers" -> ((spark, sfDir) => {
      val base = docs(spark, sfDir).select(col("doc_id"), col("text"))
      val stretched = base.filter(col("doc_id") % 500 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat_ws(" ", array_repeat(col("text"), 8)).as("text"))
      val lens = base.unionByName(stretched)
        .select(col("doc_id"), size(tokens).as("n_toks"))
      val med = broadcast(lens.agg(
        (expr("percentile(n_toks, 0.5)") * 2).cast("long").as("_med2")))
      val dev = lens.crossJoin(med)
        .select(col("doc_id"), col("n_toks"),
          abs(col("n_toks") * 2 - col("_med2")).as("dev2"))
      val mad = broadcast(dev.agg(
        (expr("percentile(dev2, 0.5)") * 2).cast("long").as("_m4")))
      dev.crossJoin(mad)
        .select(col("doc_id"), col("n_toks"), col("dev2"),
          (col("dev2") * 2 > col("_m4") * 3).as("is_outlier"))
        .orderBy(col("doc_id"))
    }),

    // PMI COLLOCATION MINING — pointwise mutual information of
    // adjacent token pairs, ln(p(ab) / (p(a)·p(b))): the
    // multi-word-expression detector feeding tokenizer-vocab and
    // stop-phrase curricula (x63's BPE counts rank by raw frequency;
    // PMI ranks by ASSOCIATION, surfacing rare-but-glued pairs).
    // Computed as ln((c_ab·T²) / (B·c_a·c_b)) — exact BIGINT products
    // (bounded: c·T² < 2⁶³ through sf0.1's ~20 M-token corpus; the
    // 100 TB form subtracts logs instead), ONE double division, one
    // ln, 4 dp (x34's proven cross-engine pattern). Two hash aggs +
    // two vocab-sized equi-joins; c_ab ≥ 5 prunes the noise tail
    // before the joins.
    // SPARSE TF-IDF COSINE PAIRS — all-pairs document similarity via
    // the INVERTED-INDEX join (the lexical complement of the
    // embedding-side x07/x137: no vectors, no LSH — the sparse dot
    // product IS a self-join on the shared feature): binary-TF
    // shingle vectors with idf² weights, pair dot = Σ idf² over
    // shared shingles (exact BIGINT), cosine = dot/√(‖a‖²·‖b‖²) with
    // one double expression per surviving pair. The df gate
    // [2, 100] is the candidate-volume bound: df=1 shingles join
    // nothing, df>100 boilerplate is x92's territory, and the join
    // fan-out is Σ df² ≤ 100·|postings| — x03's hot-bucket-cap
    // argument for the lexical index. Norms live in the SAME gated
    // feature space (standard stopword-filtered cosine). Top-20 by
    // (4 dp cosine desc, ids).
    "x199_sparse_cosine_pairs" -> ((spark, sfDir) => {
      val sh = Lake.materialize(spark, sfDir, Dedup.X05Shingles)
      val nDocs = broadcast(docs(spark, sfDir).agg(count(lit(1)).as("nd")))
      val w = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 100).crossJoin(nDocs)
        .withColumn("idf_fp", round(log(col("nd").cast("double") /
          col("df").cast("double")) * 1000000.0, 0).cast("long"))
        .select(col("shingle"), (col("idf_fp") * col("idf_fp")).as("w2"))
      val weighted = sh.join(w, "shingle")
      val norms = weighted.groupBy(col("doc_id"))
        .agg(sum(col("w2")).as("norm2"))
      val dots = weighted.as("a").join(weighted.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.w2").as("w2"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("w2")).as("dot2"), count(lit(1)).as("n_shared"))
      dots
        .join(norms.select(col("doc_id").as("doc_a"),
          col("norm2").as("na2")), "doc_a")
        .join(norms.select(col("doc_id").as("doc_b"),
          col("norm2").as("nb2")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("dot2"),
          round(col("dot2").cast("double") /
            sqrt(col("na2").cast("double") * col("nb2").cast("double")), 4)
            .as("cos_sim"))
        .orderBy(desc("cos_sim"), col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    // DUNNING LOG-LIKELIHOOD COLLOCATIONS (G²) — x88's PMI ranks by
    // lift and notoriously over-rewards rare pairs; G² weighs the
    // full 2×2 contingency (pair present/absent × head/tail) with
    // counts, the standard significance-ranked collocation score.
    // Marginals are the PROPER start/end bigram-position counts (not
    // x88's unigram approximation). Each cell contributes
    // O·(ln O + ln N − ln row − ln col) with every ln over an exact
    // BIGINT and ONE 10⁻⁶ regrid per cell, so the G² ordering is an
    // exact integer compare. Scale: one bigram explode + three
    // partial-aggregatable hash aggs (pair/start/end), then
    // model-sized joins; top-20 is TakeOrdered.
    "x197_g2_collocations" -> ((spark, sfDir) =>
      g2FromBigramCounts(bigramCountsOf(docs(spark, sfDir)))),

    "x88_pmi_collocations" -> ((spark, sfDir) => {
      val tok = docs(spark, sfDir)
        .select(tokens.as("w")).filter(size(col("w")) >= 2)
      val uni = tok.select(explode(col("w")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val tot = broadcast(uni.agg(sum(col("c")).cast("long").as("n_tok")))
      val bg = tok.select(explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] AS w1, w[i] AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val btot = broadcast(bg.agg(count(lit(1)).as("n_bg")))
      bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
        .join(uni.select(col("t").as("w1"), col("c").as("c_a")), "w1")
        .join(uni.select(col("t").as("w2"), col("c").as("c_b")), "w2")
        .crossJoin(tot).crossJoin(btot)
        .withColumn("pmi", round(log(
          (col("c_ab") * col("n_tok") * col("n_tok")).cast("double") /
            (col("n_bg") * col("c_a") * col("c_b")).cast("double")), 4))
        .select(col("w1"), col("w2"), col("c_ab"), col("pmi"))
        .orderBy(desc("pmi"), col("w1"), col("w2"))
        .limit(20)
    }),

    // Document fingerprinting: rolling 5-token windows — the winnowing
    // primitive for copy detection. The registered projection compares
    // the STRUCTURAL fingerprint columns (lexicographic min window,
    // distinct/total window counts), all integer/string-exact across
    // engines; the xxhash64-hashed variant ([[hashFingerprint]]) stays
    // the library's compact form but its hash values are
    // engine-specific by construction, so they'd never oracle-match —
    // ExtSpec pins its determinism and dup-sharing contract instead.
    "x13_fingerprint" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .select(col("doc_id"), rollingWindows(col("text"), 5).as("w"))
        .select(
          col("doc_id"),
          array_min(col("w")).as("min_window"),
          size(array_distinct(col("w"))).as("n_windows"),
          size(col("w")).as("n_windows_total"))
        .orderBy(col("doc_id"))),

    // BPE MERGE-STEP PAIR COUNTING — the inner loop of tokenizer
    // training (count adjacent symbol pairs, merge the most frequent):
    // top-100 adjacent character pairs weighted by word frequency.
    // Scale shape is THE classic tokenizer-trainer trick: aggregate
    // the corpus to its DISTINCT-WORD frequency table first (billions
    // of tokens → millions of types — one partial-aggregatable hash
    // agg), then do all character-level work per distinct word with
    // the count as a weight. The pair explode runs over vocab-sized
    // input regardless of corpus size, and the final pair aggregate
    // is alphabet²-bound. Deterministic top-k tiebreak on (a, b).
    "x63_bpe_pair_count" -> ((spark, sfDir) => {
      val wf = docs(spark, sfDir)
        .select(explode(tokens).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wf"))
      wf.filter(length(col("w")) >= 2)
        .select(col("wf"), explode(expr(
          "transform(sequence(1, length(w) - 1), " +
            "i -> struct(substring(w, i, 1) AS a, " +
            "substring(w, i + 1, 1) AS b))")).as("_p"))
        .groupBy(col("_p.a").as("a"), col("_p.b").as("b"))
        .agg(sum(col("wf")).as("pair_count"))
        .orderBy(desc("pair_count"), col("a"), col("b"))
        .limit(100)
    }),

    // BPE TRAINING STEPS — x63 counts the FIRST merge candidate; this
    // runs the actual training loop for two rounds: pick the top
    // pair, merge it into a new symbol EVERYWHERE (the delimiter-safe
    // double-pass replace — see bpeApply's scaladoc for why two
    // passes reproduce BPE's simultaneous non-overlapping merge under
    // an RE2-compatible pattern), recount over the merged sequences,
    // pick again. Round 2's counts include pairs touching the new
    // symbol — the part of tokenizer training x63's static count
    // cannot see. All work rides the vocab-sized distinct-word
    // table with frequency weights (x63's decomposition); counts are
    // exact BIGINTs, ranking ties break on (a, b). The report is
    // both chosen merges and the round-3 top-10 — the next merge
    // candidates of the trained-so-far tokenizer.
    "x121_bpe_train_steps" -> ((spark, sfDir) =>
      bpeTrainReport(docs(spark, sfDir)
        .select(explode(tokens).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wf"))))
  )

  /** x121's pair counter over a ('seq', 'wf') frame, where seq is the
    * '|'-delimited symbol string ("|l|o|w|"): adjacent-symbol pair
    * counts weighted by word frequency. Input is vocab-sized — all
    * character-grain work rides the distinct-word table, never the
    * corpus (x63's decomposition).
    */
  def bpePairCounts(seqs: DataFrame): DataFrame =
    seqs.select(col("wf"),
      expr("filter(split(seq, '\\\\|'), s -> s <> '')").as("sym"))
      .filter(size(col("sym")) >= 2)
      .select(col("wf"), explode(expr(
        "transform(sequence(1, size(sym) - 1), " +
          "i -> struct(element_at(sym, i) AS a, " +
          "element_at(sym, i + 1) AS b))")).as("_p"))
      .groupBy(col("_p.a").as("a"), col("_p.b").as("b"))
      .agg(sum(col("wf")).as("pair_count"))

  /** One BPE merge (a 1-row (a, b) frame) applied to every sequence.
    * The replace must match WHOLE symbols — after round 1 a symbol is
    * multi-char, and a substring match would merge across symbol
    * boundaries — and RE2 (the oracle engine's regex) has no
    * lookbehind, so boundary pipes are consumed by the match itself:
    * '\|a\|b\|' → '|ab|'. A consumed shared delimiter hides every
    * second occurrence in a run ("a b a b" matches once), so the
    * replace runs TWICE; pass 1 leaves surviving occurrences
    * non-adjacent (their neighbors are merged symbols), pass 2
    * catches all of them, and no new (a, b) adjacency can form
    * because the merged symbol "ab" equals neither "a" nor "b" —
    * two passes reproduce BPE's simultaneous non-overlapping merge.
    *
    * KNOWN DEVIATION (shared by both engines, so the oracle is blind
    * to it): for an ODD-length run of a self-pair (a = b), reference
    * BPE merges greedily left-to-right — "|a|a|a|a|a|" → [aa, aa, a]
    * — while the double-pass replace leaves pass 1's survivors where
    * they fell and merges around them: [aa, a, aa]. Segment COUNTS
    * match; segment POSITIONS differ, which shifts next-round pair
    * counts involving the leftover singleton. The provisioned corpus
    * and both oracles use this exact definition on both engines; a
    * caller needing reference-BPE byte-compatibility should fold over
    * the split symbol array instead (an aggregate/reduce over
    * vocab-grain rows — same scale shape, no regex).
    *
    * Symbols are spliced into the pattern under \\Q...\\E literal
    * quoting (Java regex and RE2 both honor it), so a merge symbol
    * containing a regex metacharacter cannot corrupt the pattern.
    */
  def bpeApply(seqs: DataFrame, merge: DataFrame): DataFrame = {
    val pat = concat(lit("\\|\\Q"), col("a"), lit("\\E\\|\\Q"), col("b"),
      lit("\\E\\|"))
    val rep = concat(lit("|"), col("a"), col("b"), lit("|"))
    def once(c: Column) = regexp_replace(c, pat, rep)
    seqs.crossJoin(broadcast(merge.select(col("a"), col("b"))))
      .withColumn("seq", once(once(col("seq"))))
      .drop("a", "b")
  }

  /** x121's two unrolled BPE training rounds over a ('w', 'wf')
    * distinct-word frequency frame: pick the top pair, merge it
    * everywhere, recount, repeat; report both chosen merges and the
    * post-merge top pairs. Exposed so tests can plant cascading
    * merges ("aaab"-style runs) with known exact counts.
    */
  def bpeTrainReport(wf: DataFrame): DataFrame = {
    val seq0 = wf.select(
      concat(regexp_replace(col("w"), "(.)", "|$1"), lit("|")).as("seq"),
      col("wf"))
    def top1(c: DataFrame) = broadcast(
      c.orderBy(desc("pair_count"), col("a"), col("b")).limit(1))
    val c0 = bpePairCounts(seq0)
    val m1 = top1(c0)
    val seq1 = bpeApply(seq0, m1)
    val m2 = top1(bpePairCounts(seq1))
    val c2 = bpePairCounts(bpeApply(seq1, m2))
    m1.select(lit(1).as("round"), col("a"), col("b"), col("pair_count"))
      .unionByName(m2.select(lit(2).as("round"), col("a"), col("b"),
        col("pair_count")))
      .unionByName(c2.orderBy(desc("pair_count"), col("a"), col("b"))
        .limit(10)
        .select(lit(3).as("round"), col("a"), col("b"), col("pair_count")))
      .orderBy(col("round"), desc("pair_count"), col("a"), col("b"))
  }

  /** All rolling `k`-token windows of `textCol` as strings; a doc
    * shorter than `k` tokens contributes its whole text as the single
    * window (so every doc has >= 1 window and the min below is total).
    */
  def rollingWindows(textCol: Column, k: Int): Column = {
    val toks = split(textCol, " ")
    when(size(toks) >= k,
      transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ",
          (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array(textCol))
  }

  /** Compact hashed fingerprint: (min xxhash64 over the rolling
    * windows, distinct window count) per doc — 12 bytes of state per
    * document regardless of length, the form a 100 TB winnowing pass
    * would persist. Hash values are Spark-specific (xxhash64 seed and
    * string encoding), hence excluded from the oracle-compared x13
    * projection above.
    */
  def hashFingerprint(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.withColumn("_w", rollingWindows(col(textCol), k))
      .withColumn("min_fp", array_min(transform(col("_w"), w => xxhash64(w))))
      .withColumn("n_windows", size(array_distinct(col("_w"))))
      .drop("_w")

  /** x163's Cramér's V stage over a (source, lang, n) cell frame
    * (x136's grain) — exposed so tests can plant independent and
    * perfectly-associated tables. The full R×C spine (bounded
    * crossJoin of the two distinct frames) restores the zero cells a
    * contingency chi-square must charge (O = 0 ⇒ term = E — dropping
    * them understates association); per-cell D = O·N − row·col keeps
    * the x161 exact-BIGINT discipline (headroom N < 3·10⁹; past
    * that, pre-scale counts to per-mille — x133's fallback), terms
    * land on the 10⁻⁶ grid, and V = √(χ²/(N·min(R−1, C−1))) is one
    * division → sqrt → round chain (c80's IEEE-deterministic ops).
    */
  def cramersVReport(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy(lit(1))
    val spine = cells.select(col("source")).distinct()
      .crossJoin(broadcast(cells.select(col("lang")).distinct()))
    spine.join(cells, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("n_total", sum(col("n")).over(whole))
      .withColumn("row_n", sum(col("n")).over(Window.partitionBy(col("source"))))
      .withColumn("col_n", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .withColumn("_d",
        (col("n") * col("n_total") - col("row_n") * col("col_n"))
          .cast("double"))
      .withColumn("_den", col("n_total").cast("double") *
        col("row_n").cast("double") * col("col_n").cast("double"))
      .withColumn("term_fp",
        round(col("_d") * col("_d") / col("_den") * lit(1000000.0), 0)
          .cast("long"))
      .agg(min(col("n_total")).as("n"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("term_fp")).as("_chi_fp"))
      .select(col("n"), col("n_sources"), col("n_langs"),
        round(col("_chi_fp").cast("double") / lit(1000000.0), 4).as("chi2"),
        round(sqrt(col("_chi_fp").cast("double") / lit(1000000.0) /
          (col("n") * least(col("n_sources") - 1, col("n_langs") - 1))
            .cast("double")), 4).as("cramers_v"))
  }

  /** x159's Gini stage over a (source, v) non-negative value frame —
    * exposed so tests can plant distributions with closed-form Gini.
    * See the registry entry for the tie-block rank-sum identity that
    * keeps the cumulative window on the value-frequency frame.
    */
  def giniReport(d: DataFrame): DataFrame =
    giniFromFreq(d.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("f")))

  /** x159's report stage over a pre-aggregated (source, v, f)
    * value-frequency frame — the ADDITIVE sufficient statistic that
    * lets the s27 streaming monitor maintain a rank statistic
    * incrementally (row-grain Gini is unmaintainable; the compressed
    * frequency table merges by + per microbatch).
    */
  def giniFromFreq(freq: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    freq.withColumn("c_incl", sum(col("f")).over(cum))
      .withColumn("ranksum",
        col("v") * (col("f") * (col("c_incl") - col("f")) +
          expr("f * (f + 1) DIV 2")))
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_docs"),
        sum(col("v") * col("f")).as("total_chars"),
        sum(col("ranksum")).as("_s1"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        round((lit(2L) * col("_s1") -
          (col("n_docs") + 1L) * col("total_chars")).cast("double") /
          (col("n_docs") * col("total_chars")).cast("double"), 6)
          .as("gini"))
  }

  /** x215's readout over a per-unit positive-vote-count frame `k`
    * (m = 3 binary raters, no missing data) — exposed so tests can
    * plant vote patterns with hand-computed alphas. See the x215
    * registration for the integer collapse.
    */
  private[graft] def krippendorffFromVotes(votes: DataFrame): DataFrame =
    votes
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("k")), lit(0L)).as("n_pos_votes"),
        coalesce(sum(lit(2L) * col("k") * (lit(3L) - col("k"))), lit(0L))
          .as("d_obs"))
      .select(col("n_docs"), (col("n_docs") * 3).as("n_values"),
        col("n_pos_votes"), col("d_obs"),
        when(col("n_pos_votes") > 0 &&
            col("n_pos_votes") < col("n_docs") * 3,
          round(lit(1.0) -
            (col("n_docs") * 3 - 1).cast("double") *
              col("d_obs").cast("double") /
              (lit(4.0) * col("n_pos_votes").cast("double") *
                (col("n_docs") * 3 - col("n_pos_votes")).cast("double")), 6))
          .as("alpha"))

  /** x228's Theil U readout over a prebuilt (source, lang, c)
    * contingency cell table — shared with s43 so streamed ≡ batch is
    * literal frame equality (both marginals and the grand total
    * re-derive from the cells, which merge ADDITIVELY per
    * microbatch). See the registry entry for the cancelling-/n
    * integer-grid argument.
    */
  private[graft] def theilUFromCells(cellsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy(lit(1))
    val cells = cellsIn
      .withColumn("n", sum(col("c")).over(whole))
      .withColumn("row_n", sum(col("c")).over(
        Window.partitionBy(col("source"))))
      .withColumn("col_n", sum(col("c")).over(
        Window.partitionBy(col("lang"))))
    def dd(c: Column) = c.cast("double")
    val mi = cells
      .withColumn("mi_fp", round(log(dd(col("c")) * dd(col("n")) /
        (dd(col("row_n")) * dd(col("col_n")))) * lit(1000000.0), 0)
        .cast("long"))
      .agg(max(col("n")).as("n"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("c") * col("mi_fp")).as("mi_num"))
    val hl = cellsIn.groupBy(col("lang"))
      .agg(sum(col("c")).as("c_l"))
      .withColumn("n", sum(col("c_l")).over(whole))
      .withColumn("h_fp", round(log(dd(col("c_l")) / dd(col("n"))) *
        lit(1000000.0), 0).cast("long"))
      .agg(coalesce(-sum(col("c_l") * col("h_fp")), lit(0L)).as("h_num"))
    mi.crossJoin(broadcast(hl))
      .select(col("n"), col("n_langs"),
        round(dd(col("h_num")) / (dd(col("n")) * lit(1000000.0)), 4)
          .as("h_lang"),
        round(dd(col("mi_num")) / (dd(col("n")) * lit(1000000.0)), 4)
          .as("mutual_info"),
        when(col("h_num") > 0,
          round(dd(col("mi_num")) / dd(col("h_num")), 6)).as("theil_u"))
  }

  /** Shared oracle CTE for x193/x194: the exact 2×2 rule-agreement
    * cells (SQL twin of [[ruleAgreementCells]]).
    */
  private def ruleCellsCte: String =
    "WITH d AS (SELECT doc_id, n_chars, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents), " +
      "med AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS med_chars, " +
      "percentile_disc(0.5) WITHIN GROUP (ORDER BY n_toks) AS med_toks FROM d), " +
      "f AS (SELECT n_chars > med_chars AS a, n_toks > med_toks AS b FROM d, med), " +
      "cells AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11, " +
      "CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10, " +
      "CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01, " +
      "CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00 FROM f)"

  val oracles: Map[String, String] = Map(
    // same vowel-group syllable heuristic, same 15-token sentence
    // convention, same per-source BIGINT sums and double formulas
    "x221_readability" ->
      ("WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents), " +
        "per AS (SELECT source, CAST(len(w) AS BIGINT) AS words, " +
        "CAST(list_sum(list_transform(w, t -> GREATEST(1, " +
        "len(list_filter(string_split_regex(t, '[^aeiou]+'), s -> s <> ''))))) AS BIGINT) AS syls " +
        "FROM d), " +
        "agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(words) AS BIGINT) AS n_words, " +
        "CAST(SUM((words + 14) // 15) AS BIGINT) AS n_sentences, " +
        "CAST(SUM(syls) AS BIGINT) AS n_syllables FROM per GROUP BY 1) " +
        "SELECT source, n_docs, n_words, n_sentences, n_syllables, " +
        "ROUND(0.39 * CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) + " +
        "11.8 * CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) - 15.59, 4) AS fk_grade, " +
        "ROUND(206.835 - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) - " +
        "84.6 * CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS reading_ease " +
        "FROM agg ORDER BY source"),
    // same present-pair 10^6 log-ratio grid, same frozen ln2 absent
    // mass, same integer sums with one readout division
    "x222_js_divergence" ->
      ("WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_s FROM tok GROUP BY 1, 2), " +
        "cw AS (SELECT w, CAST(SUM(c_s) AS BIGINT) AS c FROM sw GROUP BY 1), " +
        "ns AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s FROM sw GROUP BY 1), " +
        "nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cw), " +
        "terms AS (SELECT source, c_s, c, n_s, n, " +
        "CAST(c_s AS DOUBLE) * CAST(n AS DOUBLE) + CAST(c AS DOUBLE) * CAST(n_s AS DOUBLE) AS den " +
        "FROM sw JOIN cw USING (w) JOIN ns USING (source), nn), " +
        "fp AS (SELECT source, c_s, c, n_s, n, " +
        "CAST(ROUND(LN(2.0 * CAST(c_s AS DOUBLE) * CAST(n AS DOUBLE) / den) * 1000000.0, 0) AS BIGINT) AS p_term_fp, " +
        "CAST(ROUND(LN(2.0 * CAST(c AS DOUBLE) * CAST(n_s AS DOUBLE) / den) * 1000000.0, 0) AS BIGINT) AS q_term_fp " +
        "FROM terms), " +
        "agg AS (SELECT source, MAX(n_s) AS n_tokens, " +
        "CAST(SUM(c_s * p_term_fp) AS BIGINT) AS p_num, " +
        "CAST(SUM(c * q_term_fp) AS BIGINT) AS q_present_num, " +
        "CAST(SUM(c) AS BIGINT) AS c_present, MAX(n) AS n FROM fp GROUP BY 1) " +
        "SELECT source, n_tokens, " +
        "ROUND((CAST(p_num AS DOUBLE) / CAST(n_tokens AS DOUBLE) + " +
        s"(CAST(q_present_num AS DOUBLE) + $Ln2Fp.0 * " +
        "(CAST(n AS DOUBLE) - CAST(c_present AS DOUBLE))) / CAST(n AS DOUBLE)) / 2000000.0, 4) AS jsd " +
        "FROM agg ORDER BY source"),
    // same two-term position merge: cross-term lag gaps, min per doc
    "x223_min_span_proximity" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM tok), " +
        "pos AS (SELECT doc_id, i AS pos, w[i] AS tok FROM idx " +
        "WHERE w[i] IN ('key', 'stream')), " +
        "lg AS (SELECT doc_id, pos, tok, " +
        "LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_tok, " +
        "LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos FROM pos), " +
        "agg AS (SELECT doc_id, " +
        "CAST(SUM(CASE WHEN tok = 'key' THEN 1 ELSE 0 END) AS BIGINT) AS tf_key, " +
        "CAST(SUM(CASE WHEN tok = 'stream' THEN 1 ELSE 0 END) AS BIGINT) AS tf_stream, " +
        "CAST(MIN(CASE WHEN tok <> prev_tok THEN pos - prev_pos + 1 END) AS BIGINT) AS min_span " +
        "FROM lg GROUP BY 1) " +
        "SELECT doc_id, tf_key, tf_stream, min_span FROM agg " +
        "WHERE min_span IS NOT NULL ORDER BY min_span, doc_id LIMIT 20"),
    // same closed-form window-index range (p >= 50 keeps the integer
    // division nonnegative, so // and DIV agree), same one-division
    // rational per source
    "x280_mattr" ->
      ("WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM tok0), " +
        "tok AS (SELECT doc_id, i - 1 AS p, w[i] AS t FROM idx), " +
        "nd AS (SELECT doc_id, CAST(MAX(p) + 1 AS BIGINT) AS n_tok FROM tok GROUP BY 1), " +
        "ks AS (SELECT doc_id, p, t, " +
        "unnest(range(CASE WHEN p < 50 THEN 0 ELSE (p - 50) // 25 + 1 END, p // 25 + 1)) AS k " +
        "FROM tok), " +
        "wins AS (SELECT ks.doc_id, k, CAST(COUNT(DISTINCT t) AS BIGINT) AS types " +
        "FROM ks JOIN nd ON nd.doc_id = ks.doc_id " +
        "WHERE k * 25 + 50 <= n_tok GROUP BY 1, 2), " +
        "pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nw, " +
        "CAST(SUM(types) AS BIGINT) AS ts FROM wins GROUP BY 1) " +
        "SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(nw) AS BIGINT) AS n_windows, " +
        "ROUND(CAST(SUM(ts) AS DOUBLE) / (50.0 * CAST(SUM(nw) AS DOUBLE)), 6) AS mattr " +
        "FROM documents d JOIN pd ON pd.doc_id = d.doc_id GROUP BY 1 ORDER BY 1"),
    // same shared 2x2 cells, same exact cross product, one sqrt
    "x227_mcc" ->
      (ruleCellsCte +
        " SELECT n, n11, n10, n01, n00, " +
        "CASE WHEN (n11 + n10) * (n11 + n01) * (n00 + n10) * (n00 + n01) > 0 THEN " +
        "ROUND(CAST(n11 * n00 - n10 * n01 AS DOUBLE) / " +
        "SQRT(CAST((n11 + n10) * (n11 + n01) AS DOUBLE) * " +
        "CAST((n00 + n10) * (n00 + n01) AS DOUBLE)), 6) END AS mcc FROM cells"),
    // same 10^-6 ln grids for both integer sums, same cancelling /n,
    // one ratio division
    "x228_theil_u" ->
      ("WITH cells AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM documents GROUP BY 1, 2), " +
        "w AS (SELECT source, lang, c, CAST(SUM(c) OVER () AS BIGINT) AS n, " +
        "CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS row_n, " +
        "CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS col_n FROM cells), " +
        "mi AS (SELECT MAX(n) AS n, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs, " +
        "CAST(SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE) * CAST(n AS DOUBLE) / " +
        "(CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE))) * 1000000.0, 0) AS BIGINT)) " +
        "AS BIGINT) AS mi_num FROM w), " +
        "lc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c_l FROM documents GROUP BY 1), " +
        "lw AS (SELECT lang, c_l, CAST(SUM(c_l) OVER () AS BIGINT) AS n FROM lc), " +
        "hl AS (SELECT COALESCE(-CAST(SUM(c_l * CAST(ROUND(LN(CAST(c_l AS DOUBLE) / " +
        "CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT)) AS BIGINT), 0) AS h_num FROM lw) " +
        "SELECT n, n_langs, " +
        "ROUND(CAST(h_num AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 4) AS h_lang, " +
        "ROUND(CAST(mi_num AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 4) AS mutual_info, " +
        "CASE WHEN h_num > 0 THEN " +
        "ROUND(CAST(mi_num AS DOUBLE) / CAST(h_num AS DOUBLE), 6) END AS theil_u " +
        "FROM mi, hl"),
    // same three raters, same five integer sums, same Q expression
    "x226_cochran_q" ->
      ("WITH d AS (SELECT doc_id, n_chars, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks, " +
        "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types " +
        "FROM documents), " +
        "med AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS mc, " +
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY n_toks) AS mt, " +
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY n_types) AS my FROM d), " +
        "v AS (SELECT CASE WHEN n_chars > mc THEN 1 ELSE 0 END AS v1, " +
        "CASE WHEN n_toks > mt THEN 1 ELSE 0 END AS v2, " +
        "CASE WHEN n_types > my THEN 1 ELSE 0 END AS v3 FROM d, med), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(v1) AS BIGINT) AS c1, CAST(SUM(v2) AS BIGINT) AS c2, " +
        "CAST(SUM(v3) AS BIGINT) AS c3, " +
        "CAST(SUM(v1 + v2 + v3) AS BIGINT) AS sr, " +
        "CAST(SUM((v1 + v2 + v3) * (v1 + v2 + v3)) AS BIGINT) AS sr2 FROM v) " +
        "SELECT n_docs, c1, c2, c3, " +
        "CASE WHEN 3 * sr - sr2 > 0 THEN " +
        "ROUND(2.0 * CAST(3 * (c1 * c1 + c2 * c2 + c3 * c3) - " +
        "(c1 + c2 + c3) * (c1 + c2 + c3) AS DOUBLE) / " +
        "CAST(3 * sr - sr2 AS DOUBLE), 6) END AS q FROM s"),
    // same three median-split raters, same doubled-coincidence
    // integer collapse, one double division
    "x215_krippendorff_alpha" ->
      ("WITH d AS (SELECT doc_id, n_chars, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks, " +
        "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types " +
        "FROM documents), " +
        "med AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS mc, " +
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY n_toks) AS mt, " +
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY n_types) AS my FROM d), " +
        "v AS (SELECT (CASE WHEN n_chars > mc THEN 1 ELSE 0 END + " +
        "CASE WHEN n_toks > mt THEN 1 ELSE 0 END + " +
        "CASE WHEN n_types > my THEN 1 ELSE 0 END) AS k FROM d, med), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "COALESCE(CAST(SUM(k) AS BIGINT), 0) AS n_pos_votes, " +
        "COALESCE(CAST(SUM(2 * k * (3 - k)) AS BIGINT), 0) AS d_obs FROM v) " +
        "SELECT n_docs, n_docs * 3 AS n_values, n_pos_votes, d_obs, " +
        "CASE WHEN n_pos_votes > 0 AND n_pos_votes < n_docs * 3 THEN " +
        "ROUND(1.0 - CAST(n_docs * 3 - 1 AS DOUBLE) * CAST(d_obs AS DOUBLE) / " +
        "(4.0 * CAST(n_pos_votes AS DOUBLE) * " +
        "CAST(n_docs * 3 - n_pos_votes AS DOUBLE)), 6) END AS alpha " +
        "FROM s"),
    // x05's shingle CTE per half, the same exact prefix-entry depths
    // and frozen geometric weights
    "x210_rbo_drift" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
        "t0 AS (SELECT shingle, COUNT(*) AS cnt FROM sh WHERE doc_id % 2 = 0 GROUP BY 1), " +
        "r0 AS (SELECT shingle, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, shingle) AS BIGINT) AS rk FROM t0), " +
        "ta AS (SELECT shingle, rk FROM r0 WHERE rk <= 20), " +
        "t1 AS (SELECT shingle, COUNT(*) AS cnt FROM sh WHERE doc_id % 2 = 1 GROUP BY 1), " +
        "r1 AS (SELECT shingle, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, shingle) AS BIGINT) AS rk_b FROM t1), " +
        "tb AS (SELECT shingle, rk_b FROM r1 WHERE rk_b <= 20), " +
        "m AS (SELECT GREATEST(ta.rk, tb.rk_b) AS mrk FROM ta JOIN tb USING (shingle)), " +
        "ds AS (SELECT CAST(range AS BIGINT) AS d FROM range(1, 21)), " +
        "ov AS (SELECT d, CAST(COUNT(mrk) AS BIGINT) AS overlap " +
        "FROM ds LEFT JOIN m ON mrk <= d GROUP BY 1), " +
        "wt AS (SELECT d, overlap, " + rboWeightCaseSql + " AS w FROM ov) " +
        "SELECT d, overlap, " +
        "ROUND(CAST(overlap AS DOUBLE) / CAST(d AS DOUBLE), 4) AS agreement, " +
        "ROUND(SUM(CAST(overlap AS DOUBLE) * w / CAST(d AS DOUBLE)) OVER (), 6) AS rbo " +
        "FROM wt ORDER BY d"),
    // x05's shingle CTE, the same df-gated idf² weights, exact BIGINT
    // dots and the same one-double cosine per pair
    "x199_sparse_cosine_pairs" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
        "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents), " +
        "wt AS (SELECT shingle, CAST(ROUND(LN(CAST(nd AS DOUBLE) / " +
        "CAST(COUNT(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS idf_fp " +
        "FROM sh, nd GROUP BY shingle, nd " +
        "HAVING COUNT(*) >= 2 AND COUNT(*) <= 100), " +
        "wd AS (SELECT doc_id, sh.shingle, idf_fp * idf_fp AS w2 " +
        "FROM sh JOIN wt USING (shingle)), " +
        "norms AS (SELECT doc_id, CAST(SUM(w2) AS BIGINT) AS norm2 FROM wd GROUP BY 1), " +
        "dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "CAST(SUM(a.w2) AS BIGINT) AS dot2, CAST(COUNT(*) AS BIGINT) AS n_shared " +
        "FROM wd a JOIN wd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, n_shared, dot2, " +
        "ROUND(CAST(dot2 AS DOUBLE) / SQRT(CAST(na.norm2 AS DOUBLE) * " +
        "CAST(nb.norm2 AS DOUBLE)), 4) AS cos_sim " +
        "FROM dots JOIN norms na ON na.doc_id = dots.doc_a " +
        "JOIN norms nb ON nb.doc_id = dots.doc_b " +
        "ORDER BY cos_sim DESC, doc_a, doc_b LIMIT 20"),
    // same proper start/end marginals, same per-cell single regrid,
    // ordered by the exact fp statistic
    "x197_g2_collocations" ->
      ("WITH tok AS (SELECT string_split(text, ' ') AS w FROM documents " +
        "WHERE len(string_split(text, ' ')) >= 2), " +
        "bg AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM " +
        "(SELECT w, unnest(range(1, len(w))) AS i FROM tok) u), " +
        "pair AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k11 " +
        "FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5), " +
        "sm AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS s1 FROM bg GROUP BY 1), " +
        "em AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS e2 FROM bg GROUP BY 1), " +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bg), " +
        "cells AS (SELECT w1, w2, k11, s1, e2, nb, " +
        "CASE WHEN k11 > 0 THEN k11 * CAST(ROUND((LN(CAST(k11 AS DOUBLE)) + LN(CAST(nb AS DOUBLE)) " +
        "- LN(CAST(s1 AS DOUBLE)) - LN(CAST(e2 AS DOUBLE))) * 1000000.0) AS BIGINT) ELSE 0 END + " +
        "CASE WHEN s1 - k11 > 0 THEN (s1 - k11) * CAST(ROUND((LN(CAST(s1 - k11 AS DOUBLE)) + LN(CAST(nb AS DOUBLE)) " +
        "- LN(CAST(s1 AS DOUBLE)) - LN(CAST(nb - e2 AS DOUBLE))) * 1000000.0) AS BIGINT) ELSE 0 END + " +
        "CASE WHEN e2 - k11 > 0 THEN (e2 - k11) * CAST(ROUND((LN(CAST(e2 - k11 AS DOUBLE)) + LN(CAST(nb AS DOUBLE)) " +
        "- LN(CAST(nb - s1 AS DOUBLE)) - LN(CAST(e2 AS DOUBLE))) * 1000000.0) AS BIGINT) ELSE 0 END + " +
        "CASE WHEN nb - s1 - e2 + k11 > 0 THEN (nb - s1 - e2 + k11) * " +
        "CAST(ROUND((LN(CAST(nb - s1 - e2 + k11 AS DOUBLE)) + LN(CAST(nb AS DOUBLE)) " +
        "- LN(CAST(nb - s1 AS DOUBLE)) - LN(CAST(nb - e2 AS DOUBLE))) * 1000000.0) AS BIGINT) ELSE 0 END AS g2_fp " +
        "FROM pair JOIN sm USING (w1) JOIN em USING (w2), nn) " +
        "SELECT w1, w2, k11, g2_fp, " +
        "ROUND(CAST(g2_fp AS DOUBLE) * 2.0 / 1000000.0, 4) AS g2 " +
        "FROM cells ORDER BY g2_fp DESC, w1, w2 LIMIT 20"),
    // same exact discordant-cell statistic
    "x193_mcnemar" ->
      (ruleCellsCte + " " +
        "SELECT n, n11, n10, n01, n00, " +
        "CASE WHEN n10 + n01 > 0 THEN " +
        "ROUND(CAST(n10 - n01 AS DOUBLE) * CAST(n10 - n01 AS DOUBLE) / " +
        "CAST(n10 + n01 AS DOUBLE), 6) END AS chi2 FROM cells"),
    // same single-rational kappa
    "x194_cohens_kappa" ->
      (ruleCellsCte + ", " +
        "k AS (SELECT *, (n11 + n10) * (n11 + n01) + " +
        "(n01 + n00) * (n10 + n00) AS pe_num FROM cells) " +
        "SELECT n, n11, n10, n01, n00, " +
        "ROUND(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 4) AS po, " +
        "ROUND(CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE), 4) AS pe, " +
        "CASE WHEN n * n > pe_num THEN " +
        "ROUND(CAST(n * (n11 + n00) - pe_num AS DOUBLE) / " +
        "CAST(n * n - pe_num AS DOUBLE), 6) END AS kappa FROM k"),
    // same presence counts off the distinct (doc, term) frame, same
    // full spine with absent-cell terms, same per-cell ln rationals
    // on the 10^-6 grid and the count-weighted integer MI numerator
    "x174_token_mi" ->
      ("WITH tf AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term " +
        "FROM documents), " +
        "ds AS (SELECT doc_id, source FROM documents), " +
        "nsrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM ds GROUP BY 1), " +
        "nall AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM ds), " +
        "nts AS (SELECT term, source, CAST(COUNT(*) AS BIGINT) AS n_ts " +
        "FROM tf JOIN ds USING (doc_id) GROUP BY 1, 2), " +
        "nt AS (SELECT term, CAST(SUM(n_ts) AS BIGINT) AS n_t FROM nts GROUP BY 1), " +
        "sp AS (SELECT nt.term, nt.n_t, nsrc.source, nsrc.n_s FROM nt, nsrc), " +
        "cells AS (SELECT sp.term, sp.n_t, sp.n_s, " +
        "COALESCE(nts.n_ts, 0) AS n1, sp.n_s - COALESCE(nts.n_ts, 0) AS n0, " +
        "n_docs FROM sp LEFT JOIN nts " +
        "ON sp.term = nts.term AND sp.source = nts.source, nall), " +
        "f AS (SELECT term, n_t, n_docs, " +
        "(CASE WHEN n1 > 0 THEN n1 * CAST(ROUND(LN(CAST(n1 * n_docs AS DOUBLE) / " +
        "CAST(n_t * n_s AS DOUBLE)) * 1000000.0) AS BIGINT) ELSE 0 END) + " +
        "(CASE WHEN n0 > 0 AND n_docs > n_t THEN " +
        "n0 * CAST(ROUND(LN(CAST(n0 * n_docs AS DOUBLE) / " +
        "CAST((n_docs - n_t) * n_s AS DOUBLE)) * 1000000.0) AS BIGINT) " +
        "ELSE 0 END) AS c_fp FROM cells) " +
        "SELECT term, CAST(MIN(n_t) AS BIGINT) AS n_docs_with, " +
        "ROUND(CAST(SUM(c_fp) AS DOUBLE) / " +
        "(CAST(MIN(n_docs) AS DOUBLE) * 1000000.0), 6) AS mi " +
        "FROM f GROUP BY term ORDER BY mi DESC, term LIMIT 20"),
    // x46's adjacency-pair CTE + the length/self-loop filter and
    // symmetric dedupe, then x69's unrolled integer recurrence
    // verbatim (// ≡ DIV on non-negative bigints; INNER joins are
    // exact because the symmetric graph leaves no node without
    // in-mass)
    "x164_textrank" -> {
      def iter(prev: String, out: String): String =
        s"c$out AS (SELECT e.dst AS node, " +
          s"CAST(SUM(r.rank_fp // r.outdeg) AS BIGINT) AS in_mass " +
          s"FROM edges e JOIN r$prev r ON e.src = r.node GROUP BY 1), " +
          s"r$out AS (SELECT d.src AS node, d.outdeg, r0.base_fp, " +
          s"CAST(r0.base_fp + (85 * c$out.in_mass) // 100 AS BIGINT) AS rank_fp " +
          s"FROM deg d JOIN c$out ON d.src = c$out.node " +
          s"JOIN r0 ON d.src = r0.node)"
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bg AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM " +
        "(SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok) t), " +
        "bgf AS (SELECT DISTINCT w1, w2 FROM bg " +
        "WHERE length(w1) >= 5 AND length(w2) >= 5 AND w1 <> w2), " +
        "edges AS (SELECT w1 AS src, w2 AS dst FROM bgf " +
        "UNION SELECT w2, w1 FROM bgf), " +
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1), " +
        "nn AS (SELECT COUNT(*) AS n_nodes FROM deg), " +
        "r0 AS (SELECT src AS node, outdeg, " +
        "CAST(1000000000000 // n_nodes AS BIGINT) AS rank_fp, " +
        "CAST(150000000000 // n_nodes AS BIGINT) AS base_fp FROM deg, nn), " +
        iter("0", "1") + ", " + iter("1", "2") + ", " + iter("2", "3") + " " +
        "SELECT node AS keyword, rank_fp FROM r3 " +
        "ORDER BY rank_fp DESC, keyword LIMIT 20"
    },
    // x46's bigram CTE re-aggregated, the same (cnt desc, w1, w2)
    // total order and the three snapshot ranks
    "x182_ngram_coverage" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bg AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM " +
        "(SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok) t), " +
        "c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt " +
        "FROM bg GROUP BY 1, 2), " +
        "r AS (SELECT w1, w2, cnt, " +
        "ROW_NUMBER() OVER (ORDER BY cnt DESC, w1, w2) AS rk, " +
        "CAST(SUM(cnt) OVER (ORDER BY cnt DESC, w1, w2 " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, " +
        "CAST(SUM(cnt) OVER () AS BIGINT) AS total, " +
        "CAST(COUNT(*) OVER () AS BIGINT) AS n_distinct FROM c) " +
        "SELECT CAST(rk AS INTEGER) AS top_k, n_distinct, total, " +
        "cum AS mass_covered, " +
        "ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 4) AS coverage " +
        "FROM r WHERE rk IN (10, 100, 1000) ORDER BY top_k"),
    // same word-frequency frame, same exact V/V1/V2/N counts, same
    // ln/sqrt normalizations
    "x258_lexical_richness" ->
      ("WITH wf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS freq FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS w " +
        "FROM documents) t GROUP BY 1, 2), " +
        "a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab, " +
        "CAST(SUM(freq) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1, " +
        "CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2 " +
        "FROM wf GROUP BY 1) " +
        "SELECT source, vocab, n_tokens, v1, v2, " +
        "CASE WHEN n_tokens > 1 THEN " +
        "ROUND(LN(CAST(vocab AS DOUBLE)) / LN(CAST(n_tokens AS DOUBLE)), 6) END AS herdan_c, " +
        "CASE WHEN n_tokens > 0 THEN " +
        "ROUND(CAST(vocab AS DOUBLE) / SQRT(CAST(n_tokens AS DOUBLE)), 6) END AS guiraud_r, " +
        "CASE WHEN vocab > 0 THEN " +
        "ROUND(CAST(v2 AS DOUBLE) / CAST(vocab AS DOUBLE), 6) END AS sichel_s, " +
        "CASE WHEN v1 < vocab AND n_tokens > 1 THEN " +
        "ROUND(100.0 * LN(CAST(n_tokens AS DOUBLE)) / " +
        "(1.0 - CAST(v1 AS DOUBLE) / CAST(vocab AS DOUBLE)), 4) END AS honore_h " +
        "FROM a ORDER BY source"),
    // same word-frequency frame, same exact second moment, one
    // double division
    "x238_yules_k" ->
      ("WITH wf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS freq FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS w " +
        "FROM documents) t GROUP BY 1, 2), " +
        "a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab, " +
        "CAST(SUM(freq) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(freq * freq) AS BIGINT) AS s2 FROM wf GROUP BY 1) " +
        "SELECT source, vocab, n_tokens, " +
        "CASE WHEN n_tokens > 0 THEN " +
        "ROUND(10000.0 * (CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE)) / " +
        "(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 4) END AS yules_k " +
        "FROM a ORDER BY source"),
    // same per-source word-frequency frame and exact hapax/vocab
    // counts with two 4 dp divisions
    "x183_hapax_share" ->
      ("WITH wf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS freq FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS w " +
        "FROM documents) t GROUP BY 1, 2), " +
        "a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab, " +
        "CAST(SUM(freq) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax " +
        "FROM wf GROUP BY 1) " +
        "SELECT source, vocab, n_tokens, hapax, " +
        "ROUND(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 4) " +
        "AS hapax_share, " +
        "ROUND(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) " +
        "AS type_token_ratio " +
        "FROM a ORDER BY source"),
    // same width-50 buckets, the same full source×bucket spine (a
    // zero-cur bucket still carries ref mass), and x133's cumulative
    // windows / cross-multiplied sup / rounded-threshold compare
    "x178_source_length_ks" ->
      ("WITH b AS (SELECT source, n_chars // 50 AS bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS n_sb FROM documents GROUP BY 1, 2), " +
        "t AS (SELECT bucket, CAST(SUM(n_sb) AS BIGINT) AS n_b " +
        "FROM b GROUP BY 1), " +
        "sp AS (SELECT s.source, t.bucket, t.n_b FROM " +
        "(SELECT DISTINCT source FROM b) s CROSS JOIN t), " +
        "x AS (SELECT sp.source, sp.bucket, " +
        "COALESCE(b.n_sb, 0) AS cc, sp.n_b - COALESCE(b.n_sb, 0) AS cr " +
        "FROM sp LEFT JOIN b ON sp.source = b.source " +
        "AND sp.bucket = b.bucket), " +
        "c AS (SELECT source, " +
        "SUM(cr) OVER (PARTITION BY source ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS cum_r, " +
        "SUM(cc) OVER (PARTITION BY source ORDER BY bucket " +
        "ROWS UNBOUNDED PRECEDING) AS cum_c, " +
        "SUM(cr) OVER (PARTITION BY source) AS nr, " +
        "SUM(cc) OVER (PARTITION BY source) AS nc FROM x), " +
        "a AS (SELECT source, CAST(MIN(nr) AS BIGINT) AS n_ref, " +
        "CAST(MIN(nc) AS BIGINT) AS n_cur, " +
        "CAST(MAX(ABS(cum_r * nc - cum_c * nr)) AS BIGINT) AS d_num " +
        "FROM c GROUP BY 1) " +
        "SELECT source, n_ref, n_cur, " +
        "ROUND(CAST(d_num AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE), 4) AS ks, " +
        "ROUND(1.358 * SQRT(CAST(n_ref + n_cur AS DOUBLE) / " +
        "CAST(n_ref * n_cur AS DOUBLE)), 4) AS d_crit, " +
        "ROUND(CAST(d_num AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE), 4) > " +
        "ROUND(1.358 * SQRT(CAST(n_ref + n_cur AS DOUBLE) / " +
        "CAST(n_ref * n_cur AS DOUBLE)), 4) AS drifted " +
        "FROM a ORDER BY source"),
    // same full R×C spine (zero cells restored), same cross-
    // multiplied D and 10^-6 term grid, same division→sqrt chain;
    // CASTs pin HUGEINT widenings back to BIGINT
    "x163_cramers_v" ->
      ("WITH cells AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM documents GROUP BY 1, 2), " +
        "s AS (SELECT DISTINCT source FROM cells), " +
        "l AS (SELECT DISTINCT lang FROM cells), " +
        "f AS (SELECT s.source, l.lang, COALESCE(c.n, 0) AS n " +
        "FROM s CROSS JOIN l LEFT JOIN cells c " +
        "ON c.source = s.source AND c.lang = l.lang), " +
        "w AS (SELECT source, lang, n, " +
        "CAST(SUM(n) OVER () AS BIGINT) AS n_total, " +
        "CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS row_n, " +
        "CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS col_n FROM f), " +
        "t AS (SELECT n_total, source, lang, " +
        "CAST(ROUND(CAST(n * n_total - row_n * col_n AS DOUBLE) * " +
        "CAST(n * n_total - row_n * col_n AS DOUBLE) / " +
        "(CAST(n_total AS DOUBLE) * CAST(row_n AS DOUBLE) * " +
        "CAST(col_n AS DOUBLE)) * 1000000.0) AS BIGINT) AS term_fp FROM w), " +
        "a AS (SELECT CAST(MIN(n_total) AS BIGINT) AS n, " +
        "CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources, " +
        "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs, " +
        "CAST(SUM(term_fp) AS BIGINT) AS chi_fp FROM t) " +
        "SELECT n, n_sources, n_langs, " +
        "ROUND(CAST(chi_fp AS DOUBLE) / 1000000.0, 4) AS chi2, " +
        "ROUND(SQRT(CAST(chi_fp AS DOUBLE) / 1000000.0 / " +
        "CAST(n * LEAST(n_sources - 1, n_langs - 1) AS DOUBLE)), 4) " +
        "AS cramers_v FROM a"),
    // same value-frequency frame, same tie-block rank-sum identity
    // (// ≡ DIV on the non-negative f(f+1)), one division at 6 dp;
    // CASTs pin DuckDB's HUGEINT widening back to BIGINT
    "x159_gini_length" ->
      ("WITH f AS (SELECT source, n_chars AS v, " +
        "CAST(COUNT(*) AS BIGINT) AS f FROM documents GROUP BY 1, 2), " +
        "c AS (SELECT source, v, f, CAST(SUM(f) OVER (PARTITION BY source " +
        "ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ci FROM f), " +
        "r AS (SELECT source, CAST(SUM(f) AS BIGINT) AS n_docs, " +
        "CAST(SUM(v * f) AS BIGINT) AS total_chars, " +
        "CAST(SUM(v * (f * (ci - f) + (f * (f + 1)) // 2)) AS BIGINT) AS s1 " +
        "FROM c GROUP BY 1) " +
        "SELECT source, n_docs, total_chars, " +
        "ROUND(CAST(2 * s1 - (n_docs + 1) * total_chars AS DOUBLE) / " +
        "CAST(n_docs * total_chars AS DOUBLE), 6) AS gini " +
        "FROM r ORDER BY source"),
    // identical weight table interpolated from the same Scala value;
    // all-integer arithmetic, CASTs pin DuckDB's HUGEINT widening
    "x79_hashed_features" -> {
      val wa = hashWeights.mkString("[", ", ", "]")
      "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents WHERE doc_id < 100), " +
        s"h AS (SELECT doc_id, (list_sum(list_transform(" +
        s"range(1, least(length(w), $HashMaxChars) + 1), " +
        s"i -> ascii(substr(w, i, 1)) * ($wa)[i])) % $HashP) % 64 AS bucket " +
        "FROM w WHERE length(w) >= 1) " +
        "SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n " +
        "FROM h GROUP BY 1, 2 ORDER BY 1, 2"
    },
    // same polynomial hash → odd-grid u → inverse-CDF Laplace chain;
    // the weight table interpolates from the same Scala value
    "x134_dp_counts" -> {
      val wa = hashWeights.mkString("[", ", ", "]")
      // the lambda stays in its own CTE, outside any CAST — DuckDB
      // 1.0's parser rejects some arithmetic-around-lambda shapes
      // inside CAST (x79's oracle takes the same layering)
      "WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1), " +
        s"hh AS (SELECT lang, n, list_sum(list_transform(" +
        s"range(1, least(length(lang), $HashMaxChars) + 1), " +
        s"i -> ascii(substr(lang, i, 1)) * ($wa)[i])) % $HashP AS h FROM c), " +
        s"h AS (SELECT lang, n, " +
        s"CAST(2 * h + 1 AS DOUBLE) / ${2 * HashP} AS u FROM hh) " +
        "SELECT lang, 1.0 AS eps, " +
        "ROUND(CAST(n AS DOUBLE) + (0.0 - SIGN(u - 0.5)) * " +
        "LN(1.0 - 2.0 * ABS(u - 0.5)), 2) AS n_noisy " +
        "FROM h ORDER BY lang"
    },
    // every ratio test cross-multiplied to integers; list functions
    // mirror the Spark higher-order filters term for term
    "x135_gopher_rules" ->
      ("WITH t AS (SELECT string_split(text, ' ') AS w, " +
        "string_split(text, chr(10)) AS l, " +
        "CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS tot_len " +
        "FROM documents), " +
        "m AS (SELECT CAST(len(w) AS BIGINT) AS n_w, tot_len, " +
        "CAST(len(list_filter(w, x -> contains(x, '#') OR contains(x, '...'))) AS BIGINT) AS n_sym, " +
        "CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha, " +
        "CAST(" + EnStopwords.map(w =>
          s"CASE WHEN list_contains(w, '$w') THEN 1 ELSE 0 END")
          .mkString(" + ") + " AS BIGINT) AS n_stop, " +
        "CAST(len(l) AS BIGINT) AS n_lines, " +
        "CAST(len(list_filter(l, x -> x LIKE '-%' OR x LIKE '*%' OR x LIKE '•%')) AS BIGINT) AS n_bullet, " +
        "CAST(len(list_filter(l, x -> x LIKE '%...')) AS BIGINT) AS n_ell FROM t), " +
        "f AS (SELECT (n_w < 50 OR n_w > 100000) AS f_wc, " +
        "NOT (3 * n_w <= tot_len AND tot_len <= 10 * n_w) AS f_mwl, " +
        "n_sym * 10 > n_w AS f_sym, " +
        "n_bullet * 10 > n_lines * 9 AS f_bul, " +
        "n_ell * 10 > n_lines * 3 AS f_ell, " +
        "n_alpha * 5 < n_w * 4 AS f_alpha, " +
        "n_stop < 2 AS f_stop FROM m) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count, " +
        "CAST(SUM(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len, " +
        "CAST(SUM(CASE WHEN f_sym THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol_ratio, " +
        "CAST(SUM(CASE WHEN f_bul THEN 1 ELSE 0 END) AS BIGINT) AS fail_bullet_lines, " +
        "CAST(SUM(CASE WHEN f_ell THEN 1 ELSE 0 END) AS BIGINT) AS fail_ellipsis_lines, " +
        "CAST(SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_words, " +
        "CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords, " +
        "CAST(SUM(CASE WHEN NOT f_wc AND NOT f_mwl AND NOT f_sym AND " +
        "NOT f_bul AND NOT f_ell AND NOT f_alpha AND NOT f_stop " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_pass FROM f"),
    // same exact-integer cells and pairs-same sum, one division
    "x136_simpson_diversity" ->
      ("WITH c AS (SELECT source, lang, COUNT(*) AS n FROM documents " +
        "GROUP BY 1, 2), " +
        "s AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs, " +
        "CAST(COUNT(*) AS BIGINT) AS n_langs, " +
        "CAST(SUM(n * (n - 1)) AS BIGINT) AS pairs_same FROM c GROUP BY 1) " +
        "SELECT source, n_docs, n_langs, " +
        "ROUND(1.0 - CAST(pairs_same AS DOUBLE) / " +
        "CAST(n_docs * (n_docs - 1) AS DOUBLE), 4) AS simpson " +
        "FROM s ORDER BY source"),
    // same decimal-grid discipline as x76: every float term snaps to
    // the 6 dp grid before the exact decimal sums; the closed-form
    // slope runs the identical op sequence on identical inputs
    "x77_zipf_slope" ->
      ("WITH wf AS (SELECT source, w, COUNT(*) AS f FROM (" +
        "SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) t " +
        "GROUP BY 1, 2), " +
        "r AS (SELECT source, f, ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY f DESC, w) AS rank FROM wf QUALIFY rank <= 100), " +
        "tm AS (SELECT source, " +
        "CAST(ROUND(log2(rank), 6) AS DECIMAL(18,6)) AS x, " +
        "CAST(ROUND(log2(f), 6) AS DECIMAL(18,6)) AS y FROM r), " +
        "tm2 AS (SELECT source, x, y, " +
        "CAST(ROUND(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 6) AS DECIMAL(18,6)) AS xy, " +
        "CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 6) AS DECIMAL(18,6)) AS xx " +
        "FROM tm), " +
        "s AS (SELECT source, COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS sx, " +
        "CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(xy) AS DOUBLE) AS sxy, " +
        "CAST(SUM(xx) AS DOUBLE) AS sxx FROM tm2 GROUP BY 1), " +
        "ff AS (SELECT source, n, n * sxy - sx * sy AS num, " +
        "n * sxx - sx * sx AS den, sy, sx FROM s) " +
        "SELECT source, n, ROUND(num / den, 4) AS zipf_slope, " +
        "ROUND((sy - (num / den) * sx) / n, 4) AS intercept " +
        "FROM ff ORDER BY source"),
    // chars via 1-based substr (engine-identical on ASCII); terms
    // rounded 9 dp then summed as decimals — order-independent (9 dp,
    // not 6: see the query-side ulp note)
    "x76_char_entropy" ->
      ("WITH ch AS (SELECT doc_id, substr(text, i, 1) AS ch FROM (" +
        "SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i " +
        "FROM documents) t), " +
        "c AS (SELECT doc_id, ch, COUNT(*) AS nc FROM ch GROUP BY 1, 2), " +
        "tt AS (SELECT doc_id, CAST(SUM(nc) AS BIGINT) AS n FROM c GROUP BY 1), " +
        "tm AS (SELECT c.doc_id, CAST(ROUND((CAST(nc AS DOUBLE) / n) * " +
        "log2(CAST(nc AS DOUBLE) / n), 9) AS DECIMAL(24,9)) AS t " +
        "FROM c JOIN tt USING (doc_id)) " +
        "SELECT doc_id, ROUND(CAST(-SUM(t) AS DOUBLE), 4) AS entropy_bits, " +
        "COUNT(*) AS n_distinct_chars FROM tm GROUP BY doc_id ORDER BY doc_id"),
    "x10_text_stats" ->
      ("SELECT doc_id, n_chars, CAST(LENGTH(text) AS INTEGER) AS len, " +
        "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, " +
        "ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len, " +
        "ROUND(CAST(len(list_filter(string_split(text, ' '), x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio " +
        "FROM documents ORDER BY doc_id"),
    // same cross-multiplied integer predicate over the same 5-row
    // threshold spine; the zero-positive precision guard NULLs alike
    "x185_threshold_sweep" ->
      ("WITH base AS (SELECT " +
        "CAST(len(list_filter(string_split(text, ' '), " +
        "x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT) " +
        "AS n_stop, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
        "lang = 'en' AS t FROM documents), " +
        "sp AS (SELECT i * 2 AS k FROM range(1, 6) s(i)), " +
        "c AS (SELECT k, " +
        "CAST(SUM(CASE WHEN t AND n_stop * 100 >= n_tok * k " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(SUM(CASE WHEN NOT t AND n_stop * 100 >= n_tok * k " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(SUM(CASE WHEN t AND n_stop * 100 < n_tok * k " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
        "CAST(SUM(CASE WHEN NOT t AND n_stop * 100 < n_tok * k " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS tn " +
        "FROM base CROSS JOIN sp GROUP BY 1) " +
        "SELECT ROUND(CAST(k AS DOUBLE) / 100.0, 2) AS threshold, " +
        "tp, fp, fn, tn, " +
        "CASE WHEN tp + fp > 0 THEN " +
        "ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 4) END " +
        "AS precision, " +
        "ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 4) AS recall, " +
        "ROUND(2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE), 4) AS f1 " +
        "FROM c ORDER BY threshold"),
    // x11's prediction CASE verbatim, one cell aggregate, the same
    // exact-rational metric chains and the unrounded macro average
    "x184_langid_eval" ->
      ("WITH p AS (SELECT lang = 'en' AS t, " +
        "CASE WHEN CAST(len(list_filter(string_split(text, ' '), " +
        "x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) " +
        "/ len(string_split(text, ' ')) >= 0.05 " +
        "THEN TRUE ELSE FALSE END AS pr FROM documents), " +
        "c AS (SELECT " +
        "CAST(SUM(CASE WHEN t AND pr THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(SUM(CASE WHEN NOT t AND pr THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(SUM(CASE WHEN t AND NOT pr THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
        "CAST(SUM(CASE WHEN NOT t AND NOT pr THEN 1 ELSE 0 END) AS BIGINT) AS tn " +
        "FROM p) " +
        "SELECT tp, fp, fn, tn, " +
        "ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 4) AS precision, " +
        "ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 4) AS recall, " +
        "ROUND(2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE), 4) AS f1, " +
        "ROUND(CAST(tp + tn AS DOUBLE) / " +
        "CAST(tp + fp + fn + tn AS DOUBLE), 4) AS accuracy, " +
        "ROUND((2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE) + " +
        "2.0 * tn / CAST(2 * tn + fn + fp AS DOUBLE)) / 2.0, 4) AS macro_f1 " +
        "FROM c"),
    "x11_lang_id" ->
      ("SELECT doc_id, lang AS labeled_lang, " +
        "CASE WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) / len(string_split(text, ' ')) >= 0.05 " +
        "THEN 'en' ELSE 'unknown' END AS pred_lang FROM documents ORDER BY doc_id"),
    "x12_token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpe_tokens " +
        "FROM documents ORDER BY doc_id"),
    // x12's two tokenizers rolled up per source; integer sums, the
    // same two divisions at 4 dp
    "x96_tokenizer_fertility" ->
      ("WITH d AS (SELECT source, length(text) AS chars, " +
        "len(string_split(text, ' ')) AS ws, " +
        "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe " +
        "FROM documents) " +
        "SELECT source, COUNT(*) AS n_docs, " +
        "CAST(SUM(chars) AS BIGINT) AS n_chars, " +
        "CAST(SUM(ws) AS BIGINT) AS ws_tokens, " +
        "CAST(SUM(bpe) AS BIGINT) AS bpe_tokens, " +
        "ROUND(CAST(SUM(bpe) AS DOUBLE) / SUM(ws), 4) AS fertility, " +
        "ROUND(CAST(SUM(chars) AS DOUBLE) / SUM(bpe), 4) AS bytes_per_token " +
        "FROM d GROUP BY source ORDER BY source"),
    // exact BIGINT products, one division, one LN — x34's pattern;
    // CASTs pin DuckDB's HUGEINT widening back to BIGINT
    "x88_pmi_collocations" ->
      ("WITH tok AS (SELECT string_split(text, ' ') AS w FROM documents " +
        "WHERE len(string_split(text, ' ')) >= 2), " +
        "uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM " +
        "(SELECT unnest(w) AS t FROM tok) GROUP BY 1), " +
        "tt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni), " +
        "bg AS (SELECT w[i-1] AS w1, w[i] AS w2 FROM " +
        "(SELECT w, unnest(range(2, len(w) + 1)) AS i FROM tok) t), " +
        "bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bg FROM bg), " +
        "ab AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg " +
        "GROUP BY 1, 2 HAVING COUNT(*) >= 5) " +
        "SELECT ab.w1, ab.w2, ab.c_ab, " +
        "ROUND(LN(CAST(ab.c_ab * n_tok * n_tok AS DOUBLE) / " +
        "CAST(n_bg * ua.c * ub.c AS DOUBLE)), 4) AS pmi " +
        "FROM ab JOIN uni ua ON ab.w1 = ua.t " +
        "JOIN uni ub ON ab.w2 = ub.t, tt, bt " +
        "ORDER BY pmi DESC, w1, w2 LIMIT 20"),
    // quantile_cont mirrors percentile's interpolation; the doubled
    // grid keeps every compared quantity BIGINT
    "x84_mad_outliers" ->
      ("WITH u AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 3000000, array_to_string(" +
        "[text, text, text, text, text, text, text, text], ' ') " +
        "FROM documents WHERE doc_id % 500 = 0), " +
        "l AS (SELECT doc_id, " +
        "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks FROM u), " +
        "m AS (SELECT CAST(quantile_cont(n_toks, 0.5) * 2 AS BIGINT) AS med2 FROM l), " +
        "d AS (SELECT doc_id, n_toks, " +
        "CAST(ABS(n_toks * 2 - med2) AS BIGINT) AS dev2 FROM l, m), " +
        "m2 AS (SELECT CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS m4 FROM d) " +
        "SELECT doc_id, n_toks, dev2, dev2 * 2 > m4 * 3 AS is_outlier " +
        "FROM d, m2 ORDER BY doc_id"),
    "x26_repetition" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents " +
        "WHERE len(string_split(text, ' ')) >= 3), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g FROM idx), " +
        "s3 AS (SELECT doc_id, COUNT(*) AS tot3, COUNT(DISTINCT g) AS d3 FROM g GROUP BY 1), " +
        "tk AS (SELECT doc_id, unnest(w) AS t FROM tok), " +
        "st AS (SELECT doc_id, COUNT(*) AS tott, COUNT(DISTINCT t) AS dt FROM tk GROUP BY 1) " +
        "SELECT s3.doc_id, ROUND(CAST(tot3 - d3 AS DOUBLE) / tot3, 4) AS dup_3gram_ratio, " +
        "ROUND(CAST(tott - dt AS DOUBLE) / tott, 4) AS dup_token_ratio, " +
        "CAST(tot3 - d3 AS DOUBLE) / tot3 > 0.02 AS repetitive " +
        "FROM s3 JOIN st USING (doc_id) ORDER BY doc_id"),
    "x24_pii_redact" ->
      ("WITH aug AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug " +
        "FROM documents), " +
        "red AS (SELECT doc_id, aug, regexp_replace(regexp_replace(aug, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted FROM aug) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails, " +
        "CAST(len(regexp_extract_all(aug, '\\+1-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones, " +
        "CAST(LENGTH(redacted) AS INTEGER) AS red_len, " +
        "right(redacted, 40) AS red_tail " +
        "FROM red ORDER BY doc_id"),
    "x15_tfidf" ->
      ("WITH tf AS (SELECT doc_id, token AS term, COUNT(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t " +
        "GROUP BY 1, 2), " +
        "dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "tot AS (SELECT COUNT(*) AS n FROM documents) " +
        "SELECT doc_id, term, ROUND(tf * LN(CAST(n AS DOUBLE) / df), 4) AS tfidf " +
        "FROM tf JOIN dfreq USING (term), tot " +
        "ORDER BY doc_id, tfidf DESC, term LIMIT 1000"),
    // corpus-unigram model scoring; same tf/ctf decomposition
    "x34_unigram_logprob" ->
      ("WITH tf AS (SELECT doc_id, token AS term, COUNT(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t " +
        "GROUP BY 1, 2), " +
        "ctf AS (SELECT term, SUM(tf) AS ctf FROM tf GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n_total FROM tf) " +
        "SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens, " +
        "ROUND(SUM(tf * LN(CAST(ctf AS DOUBLE) / n_total)) / SUM(tf), 4) AS avg_logprob " +
        "FROM tf JOIN ctf USING (term), tot GROUP BY doc_id ORDER BY doc_id"),
    // add-one-smoothed conditional probs; the log runs on one DOUBLE
    // division in both engines (x34's 4 dp tolerance argument)
    // same planted twins, same digit-position checksum as one list
    // fold, same per-source rollup
    "x291_luhn_screen" ->
      ("WITH base AS (SELECT doc_id, source, text FROM documents " +
        "UNION ALL SELECT CAST(doc_id AS BIGINT), source, text FROM (VALUES " +
        "(5000001, 'planted', 'card 4532015112830366 leaked'), " +
        "(5000002, 'planted', 'card 4532015112830367 mistyped')) t(doc_id, source, text)), " +
        "cand AS (SELECT doc_id, source, tk AS t FROM " +
        "(SELECT doc_id, source, unnest(string_split(text, ' ')) AS tk FROM base) u " +
        "WHERE regexp_matches(tk, '^[0-9]{13,19}$')), " +
        "sc AS (SELECT doc_id, source, list_sum(list_transform(range(1, length(t) + 1), i -> " +
        "CASE WHEN i % 2 = 1 THEN CAST(substring(t, length(t) - CAST(i AS INT) + 1, 1) AS INT) " +
        "ELSE CASE WHEN CAST(substring(t, length(t) - CAST(i AS INT) + 1, 1) AS INT) * 2 > 9 " +
        "THEN CAST(substring(t, length(t) - CAST(i AS INT) + 1, 1) AS INT) * 2 - 9 " +
        "ELSE CAST(substring(t, length(t) - CAST(i AS INT) + 1, 1) AS INT) * 2 END END)) AS s " +
        "FROM cand) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_candidates, " +
        "CAST(SUM(CASE WHEN s % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_luhn_valid, " +
        "CAST(COUNT(DISTINCT CASE WHEN s % 10 = 0 THEN doc_id END) AS BIGINT) AS n_docs_flagged " +
        "FROM sc GROUP BY 1 ORDER BY 1"),
    // x46's bigram chain; per-model-row regridded ln difference
    // times the exact c12, one closing division
    "x289_bigram_entropy" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM " +
        "(SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok) t), " +
        "cbg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2), " +
        "cw1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM cbg GROUP BY 1), " +
        "tm AS (SELECT c12, c12 * CAST(ROUND((LN(CAST(c1 AS DOUBLE)) - " +
        "LN(CAST(c12 AS DOUBLE))) * 1000000.0) AS BIGINT) AS t_fp " +
        "FROM cbg JOIN cw1 USING (w1)) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types, " +
        "CAST(SUM(c12) AS BIGINT) AS n_events, " +
        "CASE WHEN SUM(c12) > 0 THEN " +
        "ROUND(CAST(SUM(t_fp) AS DOUBLE) / (CAST(SUM(c12) AS DOUBLE) * 1000000.0), 4) " +
        "END AS h_cond_nats FROM tm"),
    // the shared tf chain's count-of-counts; exact rationals, one
    // division each
    "x290_good_turing" ->
      ("WITH tf AS (SELECT doc_id, t AS term, COUNT(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u " +
        "GROUP BY 1, 2), " +
        "wf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS r FROM tf GROUP BY 1), " +
        "noc AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS nr FROM wf GROUP BY 1) " +
        "SELECT CAST(SUM(nr) AS BIGINT) AS vocab, " +
        "CAST(SUM(r * nr) AS BIGINT) AS n_tokens, " +
        "CAST(COALESCE(SUM(CASE WHEN r = 1 THEN nr END), 0) AS BIGINT) AS n1, " +
        "CAST(COALESCE(SUM(CASE WHEN r = 2 THEN nr END), 0) AS BIGINT) AS n2, " +
        "CAST(COALESCE(SUM(CASE WHEN r = 3 THEN nr END), 0) AS BIGINT) AS n3, " +
        "CASE WHEN SUM(r * nr) > 0 THEN " +
        "ROUND(CAST(COALESCE(SUM(CASE WHEN r = 1 THEN nr END), 0) AS DOUBLE) / " +
        "CAST(SUM(r * nr) AS DOUBLE), 6) END AS p_unseen, " +
        "CASE WHEN COALESCE(SUM(CASE WHEN r = 1 THEN nr END), 0) > 0 THEN " +
        "ROUND(2.0 * CAST(COALESCE(SUM(CASE WHEN r = 2 THEN nr END), 0) AS DOUBLE) / " +
        "CAST(COALESCE(SUM(CASE WHEN r = 1 THEN nr END), 0) AS DOUBLE), 4) END AS r1_star, " +
        "CASE WHEN COALESCE(SUM(CASE WHEN r = 2 THEN nr END), 0) > 0 THEN " +
        "ROUND(3.0 * CAST(COALESCE(SUM(CASE WHEN r = 3 THEN nr END), 0) AS DOUBLE) / " +
        "CAST(COALESCE(SUM(CASE WHEN r = 2 THEN nr END), 0) AS DOUBLE), 4) END AS r2_star " +
        "FROM noc"),
    "x46_bigram_logprob" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM " +
        "(SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok) t), " +
        "bfd AS (SELECT doc_id, w1, w2, COUNT(*) AS bf FROM bg GROUP BY 1, 2, 3), " +
        "cbg AS (SELECT w1, w2, CAST(SUM(bf) AS BIGINT) AS cbg FROM bfd GROUP BY 1, 2), " +
        "cw1 AS (SELECT w1, CAST(SUM(bf) AS BIGINT) AS cw1 FROM bfd GROUP BY 1), " +
        "v AS (SELECT COUNT(DISTINCT t) AS v FROM " +
        "(SELECT unnest(w) AS t FROM tok) u) " +
        "SELECT doc_id, CAST(SUM(bf) AS BIGINT) AS n_bigrams, " +
        "ROUND(SUM(bf * LN(CAST(cbg + 1 AS DOUBLE) / CAST(cw1 + v AS DOUBLE))) " +
        "/ SUM(bf), 4) AS avg_bigram_logprob " +
        "FROM bfd JOIN cbg USING (w1, w2) JOIN cw1 USING (w1), v " +
        "GROUP BY doc_id ORDER BY doc_id"),
    // x46's bigram CTEs + start/end marginals; the exact-rational JM
    // probability through two LNs per model row onto the 10^6 grid
    "x198_jm_bigram_lm" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM " +
        "(SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok) t), " +
        "bfd AS (SELECT doc_id, w1, w2, COUNT(*) AS bf FROM bg GROUP BY 1, 2, 3), " +
        "cbg AS (SELECT w1, w2, CAST(SUM(bf) AS BIGINT) AS cbg FROM bfd GROUP BY 1, 2), " +
        "cw1 AS (SELECT w1, CAST(SUM(bf) AS BIGINT) AS cw1 FROM bfd GROUP BY 1), " +
        "ce2 AS (SELECT w2, CAST(SUM(bf) AS BIGINT) AS ce2 FROM bfd GROUP BY 1), " +
        "nn AS (SELECT CAST(SUM(bf) AS BIGINT) AS nb FROM bfd), " +
        "model AS (SELECT w1, w2, " +
        "CAST(ROUND((LN(CAST(4 * cbg * nb + cw1 * ce2 AS DOUBLE)) - " +
        "LN(CAST(5 * cw1 * nb AS DOUBLE))) * 1000000.0) AS BIGINT) AS term_fp " +
        "FROM cbg JOIN cw1 USING (w1) JOIN ce2 USING (w2), nn) " +
        "SELECT doc_id, CAST(SUM(bf) AS BIGINT) AS n_bigrams, " +
        "ROUND(CAST(SUM(bf * term_fp) AS DOUBLE) / " +
        "(CAST(SUM(bf) AS DOUBLE) * 1000000.0), 4) AS avg_jm_logprob " +
        "FROM bfd JOIN model USING (w1, w2) " +
        "GROUP BY doc_id ORDER BY doc_id"),
    // x46's bigram CTEs + the three continuation-count tables; the
    // exact-rational KN probability through one LN per row onto the
    // 10^6 grid, scores as integer sums
    "x148_kneser_ney" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM " +
        "(SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok) t), " +
        "bfd AS (SELECT doc_id, w1, w2, COUNT(*) AS bf FROM bg GROUP BY 1, 2, 3), " +
        "cbg AS (SELECT w1, w2, CAST(SUM(bf) AS BIGINT) AS cbg FROM bfd GROUP BY 1, 2), " +
        "cw1 AS (SELECT w1, CAST(SUM(bf) AS BIGINT) AS cw1 FROM bfd GROUP BY 1), " +
        "n1f AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1f FROM cbg GROUP BY 1), " +
        "n1p AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p FROM cbg GROUP BY 1), " +
        "nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbi FROM cbg) " +
        "SELECT doc_id, CAST(SUM(bf) AS BIGINT) AS n_bigrams, " +
        "ROUND(CAST(SUM(bf * CAST(ROUND(LN(" +
        "CAST((4 * cbg - 3) * nbi + 3 * n1f * n1p AS DOUBLE) / " +
        "CAST(4 * cw1 * nbi AS DOUBLE)) * 1000000.0) AS BIGINT)) AS DOUBLE) / " +
        "(CAST(SUM(bf) AS DOUBLE) * 1000000.0), 4) AS avg_kn_logprob " +
        "FROM bfd JOIN cbg USING (w1, w2) JOIN cw1 USING (w1) " +
        "JOIN n1f USING (w1) JOIN n1p USING (w2), nb " +
        "GROUP BY doc_id ORDER BY doc_id"),
    // same token hash (weights interpolated from the shared Scala
    // value), boundary rule, lagged running chunk ids and md5 chunk
    // keys; shared = distinct-doc count > 1 on both sides
    "x115_cdc_chunks" -> {
      val wa = hashWeights.mkString("[", ", ", "]")
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents), " +
        "t AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, wl[CAST(i + 1 AS INTEGER)] AS w " +
        "FROM (SELECT doc_id, wl, unnest(range(len(wl))) AS i FROM tok)), " +
        s"b AS (SELECT doc_id, pos, w, CASE WHEN (list_sum(list_transform(" +
        s"range(1, least(length(w), $HashMaxChars) + 1), " +
        s"i -> ascii(substr(w, i, 1)) * ($wa)[i])) % $HashP) % 8 = 0 " +
        "THEN 1 ELSE 0 END AS bf FROM t), " +
        "c AS (SELECT doc_id, pos, w, COALESCE(SUM(bf) OVER (" +
        "PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id FROM b), " +
        "ch AS (SELECT doc_id, chunk_id, " +
        "md5(string_agg(w, ' ' ORDER BY pos)) AS ck FROM c GROUP BY 1, 2), " +
        "sh AS (SELECT ck FROM ch GROUP BY ck HAVING COUNT(DISTINCT doc_id) > 1), " +
        "agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, " +
        "CAST(COUNT(CASE WHEN ck IN (SELECT ck FROM sh) THEN 1 END) AS BIGINT) " +
        "AS n_shared_chunks FROM ch GROUP BY 1) " +
        "SELECT doc_id, n_chunks, n_shared_chunks FROM agg ORDER BY doc_id"
    },
    // x115's chunk chain aggregated; distinct mass via min-per-key
    // (identical content under an md5 key), the x108 savings chain
    "x116_cdc_savings" -> {
      val wa = hashWeights.mkString("[", ", ", "]")
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents), " +
        "t AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, wl[CAST(i + 1 AS INTEGER)] AS w " +
        "FROM (SELECT doc_id, wl, unnest(range(len(wl))) AS i FROM tok)), " +
        s"b AS (SELECT doc_id, pos, w, CASE WHEN (list_sum(list_transform(" +
        s"range(1, least(length(w), $HashMaxChars) + 1), " +
        s"i -> ascii(substr(w, i, 1)) * ($wa)[i])) % $HashP) % 8 = 0 " +
        "THEN 1 ELSE 0 END AS bf FROM t), " +
        "c AS (SELECT doc_id, pos, w, COALESCE(SUM(bf) OVER (" +
        "PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id FROM b), " +
        "ch AS (SELECT doc_id, chunk_id, md5(string_agg(w, ' ' ORDER BY pos)) AS ck, " +
        "CAST(COUNT(*) AS BIGINT) AS n_tokens FROM c GROUP BY 1, 2), " +
        "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_instances, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS tokens_total FROM ch), " +
        "dist AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct, " +
        "CAST(SUM(t1) AS BIGINT) AS tokens_distinct FROM (" +
        "SELECT ck, MIN(n_tokens) AS t1 FROM ch GROUP BY 1)) " +
        "SELECT n_instances, n_distinct, tokens_total, tokens_distinct, " +
        "ROUND(100.0 * (1.0 - CAST(tokens_distinct AS DOUBLE) / tokens_total), 4) " +
        "AS savings_pct FROM tot, dist"
    },
    // x115's chunk chain + source join, distinct-doc counts, the
    // same (count desc, key asc) per-source argmax
    "x118_boilerplate_chunks" -> {
      val wa = hashWeights.mkString("[", ", ", "]")
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents), " +
        "t AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, wl[CAST(i + 1 AS INTEGER)] AS w " +
        "FROM (SELECT doc_id, wl, unnest(range(len(wl))) AS i FROM tok)), " +
        s"b AS (SELECT doc_id, pos, w, CASE WHEN (list_sum(list_transform(" +
        s"range(1, least(length(w), $HashMaxChars) + 1), " +
        s"i -> ascii(substr(w, i, 1)) * ($wa)[i])) % $HashP) % 8 = 0 " +
        "THEN 1 ELSE 0 END AS bf FROM t), " +
        "c AS (SELECT doc_id, pos, w, COALESCE(SUM(bf) OVER (" +
        "PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id FROM b), " +
        "ch AS (SELECT doc_id, chunk_id, md5(string_agg(w, ' ' ORDER BY pos)) AS ck " +
        "FROM c GROUP BY 1, 2), " +
        "sc AS (SELECT d.source, ch.ck, COUNT(DISTINCT ch.doc_id) AS n_docs " +
        "FROM ch JOIN documents d USING (doc_id) GROUP BY 1, 2 " +
        "HAVING COUNT(DISTINCT ch.doc_id) >= 2), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY n_docs DESC, ck) AS rk FROM sc) " +
        "SELECT source, ck AS chunk_key, CAST(n_docs AS BIGINT) AS n_docs " +
        "FROM r WHERE rk = 1 ORDER BY source"
    },
    // one rung per width, same class construction
    "x117_anonymity_ladder" -> {
      def rung(w: Int): String =
        s"SELECT CAST($w AS INTEGER) AS bucket_width, " +
          "CAST(COUNT(*) AS BIGINT) AS n_classes, " +
          "CAST(COALESCE(SUM(CASE WHEN class_size < 5 THEN class_size END), 0) AS BIGINT) " +
          "AS n_risky_docs, " +
          "ROUND(100.0 * CAST(COALESCE(SUM(CASE WHEN class_size < 5 THEN class_size END), 0) AS DOUBLE) " +
          "/ SUM(class_size), 4) AS risky_pct FROM (" +
          s"SELECT lang, source, n_chars // $w AS b, COUNT(*) AS class_size " +
          "FROM documents GROUP BY 1, 2, 3)"
      Seq(50, 100, 200).map(rung).mkString(" UNION ALL ") +
        " ORDER BY bucket_width"
    },
    // same class construction with lang as the sensitive attribute
    "x114_l_diversity" ->
      ("WITH c AS (SELECT source, n_chars // 50 AS len_bucket, " +
        "COUNT(*) AS class_size, COUNT(DISTINCT lang) AS l " +
        "FROM documents GROUP BY 1, 2) " +
        "SELECT l, class_size >= 5 AS k_safe, COUNT(*) AS n_classes, " +
        "CAST(SUM(class_size) AS BIGINT) AS n_docs, l >= 2 AS l_safe " +
        "FROM c GROUP BY l, class_size >= 5 ORDER BY l, k_safe"),
    // same (source, len_bucket) classes and lang sensitive attribute;
    // the total-variation numerator stays in cross-multiplied BIGINTs
    // (absent-value mass folded in as (N − ΣC_v)·n_g), one division +
    // 4 dp round, t_safe compared on the rounded t in both engines
    "x131_t_closeness" ->
      ("WITH d AS (SELECT source, n_chars // 50 AS len_bucket, lang FROM documents), " +
        "cell AS (SELECT source, len_bucket, lang, COUNT(*) AS c FROM d GROUP BY 1, 2, 3), " +
        "grp AS (SELECT source, len_bucket, CAST(SUM(c) AS BIGINT) AS n_g FROM cell GROUP BY 1, 2), " +
        "gl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cv FROM d GROUP BY 1), " +
        "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d), " +
        "s AS (SELECT cell.source, cell.len_bucket, MAX(n_g) AS n_g, MAX(n) AS n, " +
        "CAST(SUM(ABS(c * n - cv * n_g)) AS BIGINT) AS s1, " +
        "CAST(SUM(cv) AS BIGINT) AS s2 " +
        "FROM cell JOIN grp USING (source, len_bucket) " +
        "JOIN gl USING (lang), tot GROUP BY 1, 2) " +
        "SELECT source, len_bucket, n_g AS class_size, " +
        "ROUND(CAST(s1 + (n - s2) * n_g AS DOUBLE) / " +
        "CAST(2 * n_g * n AS DOUBLE), 4) AS t, " +
        "ROUND(CAST(s1 + (n - s2) * n_g AS DOUBLE) / " +
        "CAST(2 * n_g * n AS DOUBLE), 4) <= 0.5 AS t_safe " +
        "FROM s ORDER BY source, len_bucket"),
    // same quasi-identifier classes; CASTs pin HUGEINT sums
    "x113_k_anonymity" ->
      ("WITH c AS (SELECT lang, source, n_chars // 50 AS len_bucket, " +
        "COUNT(*) AS class_size FROM documents GROUP BY 1, 2, 3) " +
        "SELECT class_size, COUNT(*) AS n_classes, " +
        "CAST(SUM(class_size) AS BIGINT) AS n_docs, " +
        "class_size < 5 AS risky FROM c GROUP BY class_size " +
        "ORDER BY class_size"),
    // the deliberately-different algorithm: a token window slides
    // over every doc and string-compares against the phrase
    "x111_phrase_search" ->
      ("WITH q AS (SELECT array_to_string((string_split(text, ' '))[3:5], ' ') AS phrase " +
        "FROM documents WHERE doc_id = 0), " +
        "tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "pos AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "hits AS (SELECT p.doc_id FROM pos p, q " +
        "WHERE array_to_string(p.w[i:i+2], ' ') = q.phrase) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences " +
        "FROM hits GROUP BY 1 ORDER BY 1"),
    // same integer-rational factors, same single ln/division per
    // factor at 6 dp, same 4 dp summed score and (score, doc_id)
    // top-10 cut
    "x119_bm25_topk" ->
      ("WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len) AS BIGINT) AS l FROM lens), " +
        "q AS (SELECT doc_id, term, tf FROM tf " +
        "WHERE term IN ('join', 'filter', 'vector')), " +
        "d AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM q GROUP BY 1), " +
        "s AS (SELECT q.doc_id, " +
        "ROUND(LN(CAST(2 * g.n + 2 AS DOUBLE) / (2 * d.df + 1)), 6) * " +
        "ROUND(CAST(q.tf * g.l * 22 AS DOUBLE) / " +
        "(g.l * q.tf * 10 + g.l * 3 + lens.len * g.n * 9), 6) AS s " +
        "FROM q JOIN d USING (term) JOIN lens USING (doc_id), g) " +
        "SELECT doc_id, ROUND(SUM(s), 4) AS bm25 FROM s " +
        "GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10"),
    // x121's merge derivation with `w` carried through the applies,
    // then per-word symbol counts frequency-weighted per source
    "x128_bpe_encode" -> {
      def cnt(src: String, out: String): String =
        s"$out AS (SELECT sym[i] AS a, sym[i + 1] AS b, " +
          "CAST(SUM(wf) AS BIGINT) AS pair_count FROM " +
          "(SELECT sym, wf, unnest(range(1, len(sym))) AS i FROM " +
          "(SELECT list_filter(string_split(seq, '|'), s -> s <> '') AS sym, wf " +
          s"FROM $src) WHERE len(sym) >= 2) GROUP BY 1, 2)"
      def apply(src: String, m: String, out: String): String =
        s"$out AS (SELECT w, regexp_replace(regexp_replace(seq, " +
          s"'\\|\\Q' || $m.a || '\\E\\|\\Q' || $m.b || '\\E\\|', '|' || $m.a || $m.b || '|', 'g'), " +
          s"'\\|\\Q' || $m.a || '\\E\\|\\Q' || $m.b || '\\E\\|', '|' || $m.a || $m.b || '|', 'g') " +
          s"AS seq, wf FROM $src, $m)"
      "WITH wf AS (SELECT w, COUNT(*) AS wf FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
        "GROUP BY 1), " +
        "s0 AS (SELECT w, regexp_replace(w, '(.)', '|\\1', 'g') || '|' AS seq, wf FROM wf), " +
        cnt("s0", "c0") + ", " +
        "m1 AS (SELECT a, b FROM c0 ORDER BY pair_count DESC, a, b LIMIT 1), " +
        apply("s0", "m1", "s1") + ", " + cnt("s1", "c1") + ", " +
        "m2 AS (SELECT a, b FROM c1 ORDER BY pair_count DESC, a, b LIMIT 1), " +
        apply("s1", "m2", "s2") + ", " +
        "ws AS (SELECT w, CAST(length(w) AS BIGINT) AS n_chars, " +
        "CAST(len(list_filter(string_split(seq, '|'), s -> s <> '')) AS BIGINT) AS n_sym " +
        "FROM s2), " +
        "bysrc AS (SELECT source, w2 AS w, COUNT(*) AS swf FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS w2 FROM documents) " +
        "GROUP BY 1, 2) " +
        "SELECT source, CAST(SUM(swf * n_chars) AS BIGINT) AS symbols_before, " +
        "CAST(SUM(swf * n_sym) AS BIGINT) AS symbols_after, " +
        "ROUND(100.0 * (1.0 - CAST(SUM(swf * n_sym) AS DOUBLE) / " +
        "CAST(SUM(swf * n_chars) AS BIGINT)), 4) AS compression_pct " +
        "FROM bysrc JOIN ws USING (w) GROUP BY 1 ORDER BY source"
    },
    // the deliberately-different algorithm: every window of every
    // served doc scanned and term-counted directly (vs the Spark
    // side's hit-driven vote enumeration)
    "x126_snippets" ->
      ("WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len) AS BIGINT) AS l FROM lens), " +
        "q AS (SELECT doc_id, term, tf FROM tf " +
        "WHERE term IN ('join', 'filter', 'vector')), " +
        "d AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM q GROUP BY 1), " +
        "s AS (SELECT q.doc_id, " +
        "ROUND(LN(CAST(2 * g.n + 2 AS DOUBLE) / (2 * d.df + 1)), 6) * " +
        "ROUND(CAST(q.tf * g.l * 22 AS DOUBLE) / " +
        "(g.l * q.tf * 10 + g.l * 3 + lens.len * g.n * 9), 6) AS s " +
        "FROM q JOIN d USING (term) JOIN lens USING (doc_id), g), " +
        "bm AS (SELECT doc_id, ROUND(SUM(s), 4) AS bm25 FROM s GROUP BY 1), " +
        "top5 AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id LIMIT 5), " +
        "tok AS (SELECT documents.doc_id, string_split(text, ' ') AS w " +
        "FROM documents JOIN top5 ON documents.doc_id = top5.doc_id), " +
        "win AS (SELECT doc_id, w, " +
        "unnest(range(1, GREATEST(len(w) - 8, 0) + 2)) AS i FROM tok), " +
        "h AS (SELECT doc_id, i, w, CAST(len(list_filter(w[i:i+7], " +
        "t -> t IN ('join', 'filter', 'vector'))) AS BIGINT) AS n_hits FROM win) " +
        "SELECT doc_id, CAST(i - 1 AS INTEGER) AS start, n_hits, " +
        "array_to_string(w[i:i+7], ' ') AS snippet FROM h " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id " +
        "ORDER BY n_hits DESC, i) = 1 ORDER BY doc_id"),
    // the full two-stage loop in SQL: x119's chain → top-3 → heaviest
    // non-query terms → the same chain over the expanded term set
    "x125_prf_expansion" -> {
      def score(q: String, d: String): String =
        s"(SELECT $q.doc_id, " +
          s"ROUND(LN(CAST(2 * g.n + 2 AS DOUBLE) / (2 * $d.df + 1)), 6) * " +
          s"ROUND(CAST($q.tf * g.l * 22 AS DOUBLE) / " +
          s"(g.l * $q.tf * 10 + g.l * 3 + lens.len * g.n * 9), 6) AS s " +
          s"FROM $q JOIN $d USING (term) JOIN lens USING (doc_id), g)"
      "WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len) AS BIGINT) AS l FROM lens), " +
        "q1 AS (SELECT doc_id, term, tf FROM tf " +
        "WHERE term IN ('join', 'filter', 'vector')), " +
        "d1 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM q1 GROUP BY 1), " +
        "s1 AS " + score("q1", "d1") + ", " +
        "bm1 AS (SELECT doc_id, ROUND(SUM(s), 4) AS bm25 FROM s1 GROUP BY 1), " +
        "top3 AS (SELECT doc_id FROM bm1 ORDER BY bm25 DESC, doc_id LIMIT 3), " +
        "expn AS (SELECT term FROM (SELECT tf.term, CAST(SUM(tf.tf) AS BIGINT) AS w " +
        "FROM tf JOIN top3 USING (doc_id) " +
        "WHERE tf.term NOT IN ('join', 'filter', 'vector') " +
        "GROUP BY 1 ORDER BY w DESC, term LIMIT 2)), " +
        "terms AS (SELECT term FROM expn UNION ALL " +
        "SELECT unnest(['join', 'filter', 'vector']) AS term), " +
        "q2 AS (SELECT tf.doc_id, tf.term, tf.tf FROM tf JOIN terms USING (term)), " +
        "d2 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM q2 GROUP BY 1), " +
        "s2 AS " + score("q2", "d2") + " " +
        "SELECT doc_id, ROUND(SUM(s), 4) AS bm25 FROM s2 " +
        "GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10"
    },
    // same lens × terms spine with coalesced absent-term tf, same
    // integer rational through one ln per cell
    "x124_query_likelihood" ->
      ("WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY 1), " +
        "big AS (SELECT CAST(SUM(len) AS BIGINT) AS l FROM lens), " +
        "q AS (SELECT doc_id, term, tf FROM tf " +
        "WHERE term IN ('join', 'filter', 'vector')), " +
        "ctf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ctf FROM q GROUP BY 1), " +
        "s AS (SELECT lens.doc_id, " +
        "ROUND(LN(CAST(COALESCE(q.tf, 0) * big.l + 2000 * ctf.ctf AS DOUBLE) / " +
        "(big.l * (lens.len + 2000))), 6) AS s " +
        "FROM lens CROSS JOIN ctf " +
        "LEFT JOIN q ON q.doc_id = lens.doc_id AND q.term = ctf.term, big) " +
        "SELECT doc_id, ROUND(SUM(s), 4) AS ql FROM s " +
        "GROUP BY 1 ORDER BY ql DESC, doc_id LIMIT 10"),
    // the oracle is the brute-force ground truth: exact counts over
    // the FULL vocabulary — matching it is precisely the claim that
    // the bounded-state candidate pass lost nothing in the top-10
    "x101_heavy_hitters" ->
      ("SELECT t AS token, COUNT(*) AS freq FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS t FROM documents) " +
        "GROUP BY t ORDER BY freq DESC, token LIMIT 10"),
    // same smoothing decomposition: xent(a,b) = ln(Nb+V) −
    // Σ_shared ca·ln(cb+1)/Na — the inner join covers exactly the
    // shared-vocab terms, absent words contribute ln(1) = 0
    "x95_domain_affinity" ->
      ("WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "c AS (SELECT source, w, COUNT(*) AS c FROM t GROUP BY 1, 2), " +
        "ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1), " +
        "v AS (SELECT COUNT(DISTINCT w) AS v FROM c), " +
        "j AS (SELECT a.source AS source_a, b.source AS source_b, " +
        "SUM(a.c * LN(CAST(b.c AS DOUBLE) + 1)) AS s " +
        "FROM c a JOIN c b USING (w) GROUP BY 1, 2) " +
        "SELECT na.source AS source_a, nb.source AS source_b, " +
        "ROUND(LN(CAST(nb.n + v AS DOUBLE)) - COALESCE(s, 0) / na.n, 4) AS xent " +
        "FROM ns na CROSS JOIN ns nb CROSS JOIN v " +
        "LEFT JOIN j ON j.source_a = na.source AND j.source_b = nb.source " +
        "ORDER BY source_a, source_b"),
    // same chunk-count rule and 1-based inclusive list slicing
    "x35_doc_chunk" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "n AS (SELECT doc_id, w, CASE WHEN len(w) <= 32 THEN 1 " +
        "ELSE 1 + (len(w) - 32 + 23) // 24 END AS nc FROM d), " +
        "c AS (SELECT doc_id, w, unnest(range(nc)) AS ci FROM n) " +
        "SELECT doc_id, ci AS chunk_id, " +
        "CAST(len(w[(ci*24+1):(ci*24+32)]) AS INTEGER) AS n_chunk_tokens, " +
        "array_to_string(w[(ci*24+1):(ci*24+32)], ' ') AS chunk_text " +
        "FROM c ORDER BY doc_id, chunk_id"),
    // rule gates on exact count ratios; LM gate on the 4 dp-rounded
    // score (x34's convention) vs the fixed -3.41 cutoff
    "x38_quality_ensemble" ->
      ("WITH tf AS (SELECT doc_id, token AS term, COUNT(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t " +
        "GROUP BY 1, 2), " +
        "ctf AS (SELECT term, SUM(tf) AS ctf FROM tf GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n_total FROM tf), " +
        "lm AS (SELECT doc_id, ROUND(SUM(tf * LN(CAST(ctf AS DOUBLE) / n_total)) " +
        "/ SUM(tf), 4) AS lp FROM tf JOIN ctf USING (term), tot GROUP BY doc_id), " +
        "r AS (SELECT doc_id, string_split(text, ' ') AS t, " +
        "CASE WHEN len(string_split(text, ' ')) >= 3 THEN " +
        "list_transform(range(1, len(string_split(text, ' ')) - 1), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3 FROM documents), " +
        "rules AS (SELECT doc_id, " +
        "CAST(len(list_filter(t, x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) " +
        "/ len(t) >= 0.05 AS gate_stopword, " +
        "CASE WHEN len(g3) > 0 THEN " +
        "CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) ELSE 0.0 END " +
        "<= 0.02 AS gate_repetition FROM r) " +
        "SELECT rules.doc_id, gate_stopword, gate_repetition, " +
        "lp >= -3.41 AS gate_logprob, " +
        "CAST(gate_stopword AS INTEGER) + CAST(gate_repetition AS INTEGER) + " +
        "CAST(lp >= -3.41 AS INTEGER) AS n_gates, " +
        "CASE CAST(gate_stopword AS INTEGER) + CAST(gate_repetition AS INTEGER) + " +
        "CAST(lp >= -3.41 AS INTEGER) " +
        "WHEN 3 THEN 'keep' WHEN 2 THEN 'review' ELSE 'drop' END AS verdict " +
        "FROM rules JOIN lm USING (doc_id) ORDER BY rules.doc_id"),
    // x38's gate CTEs with the exact Fleiss P-bar/P-e chain
    "x273_fleiss_kappa" ->
      ("WITH tf AS (SELECT doc_id, token AS term, COUNT(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t " +
        "GROUP BY 1, 2), " +
        "ctf AS (SELECT term, SUM(tf) AS ctf FROM tf GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n_total FROM tf), " +
        "lm AS (SELECT doc_id, ROUND(SUM(tf * LN(CAST(ctf AS DOUBLE) / n_total)) " +
        "/ SUM(tf), 4) AS lp FROM tf JOIN ctf USING (term), tot GROUP BY doc_id), " +
        "r AS (SELECT doc_id, string_split(text, ' ') AS t, " +
        "CASE WHEN len(string_split(text, ' ')) >= 3 THEN " +
        "list_transform(range(1, len(string_split(text, ' ')) - 1), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3 FROM documents), " +
        "items AS (SELECT r.doc_id, " +
        "CAST(CAST(len(list_filter(t, x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) " +
        "/ len(t) >= 0.05 AS BIGINT) + " +
        "CAST((CASE WHEN len(g3) > 0 THEN " +
        "CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) ELSE 0.0 END) " +
        "<= 0.02 AS BIGINT) + " +
        "CAST(lp >= -3.41 AS BIGINT) AS tt " +
        "FROM r JOIN lm USING (doc_id)), " +
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(tt) AS BIGINT) AS st, " +
        "CAST(SUM(tt * (tt - 1) + (3 - tt) * (2 - tt)) AS BIGINT) AS agree6 FROM items), " +
        "f AS (SELECT n, CAST(st AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)) AS p_yes, " +
        "CAST(agree6 AS DOUBLE) / (6.0 * CAST(n AS DOUBLE)) AS p_bar FROM g), " +
        "h AS (SELECT n, p_yes, p_bar, " +
        "p_yes * p_yes + (1.0 - p_yes) * (1.0 - p_yes) AS p_e FROM f) " +
        "SELECT n AS n_docs, ROUND(p_yes, 4) AS p_yes, ROUND(p_bar, 6) AS p_bar, " +
        "CASE WHEN p_e < 1.0 THEN ROUND((p_bar - p_e) / (1.0 - p_e), 6) END AS fleiss_kappa " +
        "FROM h"),
    // same vocabulary cells, same token-weighted entropy partition
    "x274_diversity_partition" ->
      ("WITH wf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS freq FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS w " +
        "FROM documents) t GROUP BY 1, 2), " +
        "tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS n FROM wf), " +
        "gm AS (SELECT LN(CAST(MAX(n) AS DOUBLE)) - " +
        "SUM(CAST(fw AS DOUBLE) * LN(CAST(fw AS DOUBLE))) / CAST(MAX(n) AS DOUBLE) AS gamma_h " +
        "FROM (SELECT w, CAST(SUM(freq) AS BIGINT) AS fw FROM wf GROUP BY 1) v, tot), " +
        "al AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_sources, " +
        "SUM((CAST(n_g AS DOUBLE) * LN(CAST(n_g AS DOUBLE)) - sfl) / CAST(n AS DOUBLE)) AS alpha_h " +
        "FROM (SELECT source, CAST(SUM(freq) AS BIGINT) AS n_g, " +
        "SUM(CAST(freq AS DOUBLE) * LN(CAST(freq AS DOUBLE))) AS sfl " +
        "FROM wf GROUP BY 1) s, tot) " +
        "SELECT k_sources, ROUND(gamma_h, 6) AS gamma_h, ROUND(alpha_h, 6) AS alpha_h, " +
        "ROUND(gamma_h - alpha_h, 6) AS beta_h, " +
        "ROUND(EXP(gamma_h - alpha_h), 4) AS turnover FROM gm, al"),
    // x38's gate CTEs with the exact-integer KR-20 readout
    "x272_kr20_alpha" ->
      ("WITH tf AS (SELECT doc_id, token AS term, COUNT(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t " +
        "GROUP BY 1, 2), " +
        "ctf AS (SELECT term, SUM(tf) AS ctf FROM tf GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n_total FROM tf), " +
        "lm AS (SELECT doc_id, ROUND(SUM(tf * LN(CAST(ctf AS DOUBLE) / n_total)) " +
        "/ SUM(tf), 4) AS lp FROM tf JOIN ctf USING (term), tot GROUP BY doc_id), " +
        "r AS (SELECT doc_id, string_split(text, ' ') AS t, " +
        "CASE WHEN len(string_split(text, ' ')) >= 3 THEN " +
        "list_transform(range(1, len(string_split(text, ' ')) - 1), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3 FROM documents), " +
        "items AS (SELECT r.doc_id, " +
        "CAST(CAST(len(list_filter(t, x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) " +
        "/ len(t) >= 0.05 AS BIGINT) AS a, " +
        "CAST((CASE WHEN len(g3) > 0 THEN " +
        "CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) ELSE 0.0 END) " +
        "<= 0.02 AS BIGINT) AS b, " +
        "CAST(lp >= -3.41 AS BIGINT) AS c " +
        "FROM r JOIN lm USING (doc_id)), " +
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(a) AS BIGINT) AS sa, " +
        "CAST(SUM(b) AS BIGINT) AS sb, CAST(SUM(c) AS BIGINT) AS sc, " +
        "CAST(SUM(a + b + c) AS BIGINT) AS st, " +
        "CAST(SUM((a + b + c) * (a + b + c)) AS BIGINT) AS stt FROM items), " +
        "f AS (SELECT n, sa, sb, sc, " +
        "sa * (n - sa) + sb * (n - sb) + sc * (n - sc) AS num, " +
        "n * stt - st * st AS den FROM g) " +
        "SELECT n AS n_docs, " +
        "ROUND(CAST(sa AS DOUBLE) / CAST(n AS DOUBLE), 4) AS p_a, " +
        "ROUND(CAST(sb AS DOUBLE) / CAST(n AS DOUBLE), 4) AS p_b, " +
        "ROUND(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 4) AS p_c, " +
        "CASE WHEN den > 0 THEN " +
        "ROUND(1.5 * (1.0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)), 6) END AS kr20 " +
        "FROM f"),
    // exact-count rate (one division), interpolated quantiles (c42's
    // quantile_cont ≡ Spark percentile contract)
    "x42_corpus_stats" ->
      ("WITH t AS (SELECT source, lang, " +
        "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks, " +
        "CAST(len(list_filter(string_split(text, ' '), " +
        "x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS INTEGER) AS n_stop " +
        "FROM documents) " +
        "SELECT source, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_toks) AS BIGINT) AS total_tokens, " +
        "ROUND(quantile_cont(n_toks, 0.5), 4) AS p50_tokens, " +
        "ROUND(quantile_cont(n_toks, 0.9), 4) AS p90_tokens, " +
        "COUNT(DISTINCT lang) AS n_langs, " +
        "CAST(SUM(n_stop) AS DOUBLE) / SUM(n_toks) AS stop_rate " +
        "FROM t GROUP BY source ORDER BY source"),
    // integer-exact counts end to end; the running sums are BIGINT
    // (DuckDB window SUM widens to HUGEINT — cast back)
    "x44_vocab_growth" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token " +
        "FROM documents), " +
        "fst AS (SELECT token, MIN(doc_id) AS first_doc FROM tok GROUP BY 1), " +
        "newb AS (SELECT first_doc // 50 AS bucket, COUNT(*) AS new_types " +
        "FROM fst GROUP BY 1), " +
        "tokb AS (SELECT doc_id // 50 AS bucket, COUNT(*) AS n_tokens " +
        "FROM tok GROUP BY 1) " +
        "SELECT t.bucket, t.n_tokens, COALESCE(n.new_types, 0) AS new_types, " +
        "CAST(SUM(COALESCE(n.new_types, 0)) OVER " +
        "(ORDER BY t.bucket) AS BIGINT) AS vocab_size, " +
        "CAST(SUM(t.n_tokens) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_tokens " +
        "FROM tokb t LEFT JOIN newb n USING (bucket) ORDER BY t.bucket"),
    // x05's shingle CTE as the type stream, both log coordinates on
    // the 10^-6 ln grid, exact BIGINT OLS sums, the same guarded
    // scalar expressions
    "x190_heaps_fit" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
        "fst AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1), " +
        "newb AS (SELECT first_doc // 50 AS bucket, COUNT(*) AS new_types " +
        "FROM fst GROUP BY 1), " +
        "tokb AS (SELECT doc_id // 50 AS bucket, COUNT(*) AS n_tokens " +
        "FROM sh GROUP BY 1), " +
        "curve AS (SELECT t.bucket, " +
        "CAST(SUM(COALESCE(n.new_types, 0)) OVER (ORDER BY t.bucket) AS BIGINT) AS vocab_size, " +
        "CAST(SUM(t.n_tokens) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_tokens " +
        "FROM tokb t LEFT JOIN newb n USING (bucket)), " +
        "p AS (SELECT " +
        "CAST(ROUND(LN(CAST(cum_tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS x_fp, " +
        "CAST(ROUND(LN(CAST(vocab_size AS DOUBLE)) * 1000000.0) AS BIGINT) AS y_fp FROM curve), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points, " +
        "CAST(SUM(x_fp) AS BIGINT) AS sx, CAST(SUM(y_fp) AS BIGINT) AS sy, " +
        "CAST(SUM(x_fp * x_fp) AS BIGINT) AS sxx, " +
        "CAST(SUM(x_fp * y_fp) AS BIGINT) AS sxy, " +
        "CAST(SUM(y_fp * y_fp) AS BIGINT) AS syy FROM p), " +
        "d AS (SELECT n_points, sx, sy, " +
        "n_points * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx, " +
        "n_points * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy, " +
        "n_points * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy FROM s) " +
        "SELECT n_points, " +
        "CASE WHEN dx <> 0.0 THEN ROUND(cxy / dx, 6) END AS beta, " +
        "CASE WHEN dx <> 0.0 THEN ROUND(((CAST(sy AS DOUBLE) - " +
        "(cxy / dx) * CAST(sx AS DOUBLE)) / CAST(n_points AS DOUBLE)) / 1000000.0, 6) END AS ln_k, " +
        "CASE WHEN dx <> 0.0 AND dy <> 0.0 THEN " +
        "ROUND(cxy * cxy / (dx * dy), 6) END AS r2 " +
        "FROM d"),
    // x05's shingle CTE + first-arrival min; exact integers, one
    // division
    "x50_novelty" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tok), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx), " +
        "fst AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1) " +
        "SELECT doc_id, COUNT(*) AS n_shingles, " +
        "CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "ROUND(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) " +
        "/ COUNT(*), 4) AS novelty " +
        "FROM sh JOIN fst USING (shingle) GROUP BY doc_id ORDER BY doc_id"),
    // top-K slices with the same count-desc/token-asc tiebreak;
    // exact integer sums, one division
    "x52_vocab_coverage" ->
      ("WITH c AS (SELECT token, COUNT(*) AS cnt FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS token FROM documents) u GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c), " +
        "k10 AS (SELECT 10 AS k, CAST(SUM(cnt) AS BIGINT) AS covered FROM " +
        "(SELECT cnt FROM c ORDER BY cnt DESC, token LIMIT 10) s), " +
        "k100 AS (SELECT 100 AS k, CAST(SUM(cnt) AS BIGINT) AS covered FROM " +
        "(SELECT cnt FROM c ORDER BY cnt DESC, token LIMIT 100) s), " +
        "k1000 AS (SELECT 1000 AS k, CAST(SUM(cnt) AS BIGINT) AS covered FROM " +
        "(SELECT cnt FROM c ORDER BY cnt DESC, token LIMIT 1000) s) " +
        "SELECT k, covered, ROUND(CAST(covered AS DOUBLE) / total, 6) AS coverage " +
        "FROM (SELECT * FROM k10 UNION ALL SELECT * FROM k100 " +
        "UNION ALL SELECT * FROM k1000) u, t ORDER BY k"),
    // discrete quantile boundaries: actual data values (exact integer
    // quotients), no interpolation arithmetic to diverge on; for
    // quartiles quantile_disc's index and PERCENTILE_DISC's rank pick
    // the same element for every n (see the Spark-side comment)
    "x51_quality_tiles" ->
      ("WITH r AS (SELECT doc_id, " +
        "CAST(len(list_filter(string_split(text, ' '), " +
        "x -> x IN ('a', 'the', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) " +
        "/ len(string_split(text, ' ')) AS ratio FROM documents), " +
        "b AS (SELECT quantile_disc(ratio, 0.25) AS b1, " +
        "quantile_disc(ratio, 0.5) AS b2, " +
        "quantile_disc(ratio, 0.75) AS b3 FROM r) " +
        "SELECT doc_id, ROUND(ratio, 4) AS ratio, " +
        "CASE WHEN ratio <= b1 THEN 1 WHEN ratio <= b2 THEN 2 " +
        "WHEN ratio <= b3 THEN 3 ELSE 4 END AS tile " +
        "FROM r, b ORDER BY doc_id"),
    // Structural fingerprint columns only — the hashed variant
    // (hashFingerprint) is engine-specific by construction.
    "x13_fingerprint" ->
      ("WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents), " +
        "w AS (SELECT doc_id, CASE WHEN len(t) >= 5 THEN " +
        "list_transform(range(1, len(t) - 3), i -> " +
        "t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]) " +
        "ELSE [text] END AS w FROM tok) " +
        "SELECT doc_id, list_min(w) AS min_window, " +
        "CAST(len(list_distinct(w)) AS INTEGER) AS n_windows, " +
        "CAST(len(w) AS INTEGER) AS n_windows_total " +
        "FROM w ORDER BY doc_id"),
    // same distinct-word-first decomposition; substr is 1-based and
    // byte=char on this ASCII corpus in both engines
    "x63_bpe_pair_count" ->
      ("WITH wf AS (SELECT token AS w, COUNT(*) AS wf FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS token FROM documents) t " +
        "GROUP BY 1), " +
        "p AS (SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, wf " +
        "FROM (SELECT w, wf, unnest(range(1, length(w))) AS i FROM wf " +
        "WHERE length(w) >= 2) s) " +
        "SELECT a, b, CAST(SUM(wf) AS BIGINT) AS pair_count FROM p " +
        "GROUP BY 1, 2 ORDER BY pair_count DESC, a, b LIMIT 100"),
    // same '|'-delimited symbol strings, same double-pass \Q-quoted
    // RE2 replace (incl. bpeApply's documented odd-self-pair-run
    // deviation), same (count desc, a, b) argmax per round
    "x121_bpe_train_steps" -> {
      def sym(src: String, out: String): String =
        s"$out AS (SELECT list_filter(string_split(seq, '|'), s -> s <> '') " +
          s"AS sym, wf FROM $src)"
      def cnt(src: String, out: String): String =
        s"$out AS (SELECT sym[i] AS a, sym[i + 1] AS b, " +
          "CAST(SUM(wf) AS BIGINT) AS pair_count FROM " +
          s"(SELECT sym, wf, unnest(range(1, len(sym))) AS i FROM $src " +
          "WHERE len(sym) >= 2) GROUP BY 1, 2)"
      def apply(src: String, m: String, out: String): String =
        s"$out AS (SELECT regexp_replace(regexp_replace(seq, " +
          s"'\\|\\Q' || $m.a || '\\E\\|\\Q' || $m.b || '\\E\\|', '|' || $m.a || $m.b || '|', 'g'), " +
          s"'\\|\\Q' || $m.a || '\\E\\|\\Q' || $m.b || '\\E\\|', '|' || $m.a || $m.b || '|', 'g') " +
          s"AS seq, wf FROM $src, $m)"
      "WITH wf AS (SELECT w, COUNT(*) AS wf FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
        "GROUP BY 1), " +
        "s0 AS (SELECT regexp_replace(w, '(.)', '|\\1', 'g') || '|' AS seq, wf FROM wf), " +
        sym("s0", "y0") + ", " + cnt("y0", "c0") + ", " +
        "m1 AS (SELECT a, b, pair_count FROM c0 ORDER BY pair_count DESC, a, b LIMIT 1), " +
        apply("s0", "m1", "s1") + ", " +
        sym("s1", "y1") + ", " + cnt("y1", "c1") + ", " +
        "m2 AS (SELECT a, b, pair_count FROM c1 ORDER BY pair_count DESC, a, b LIMIT 1), " +
        apply("s1", "m2", "s2") + ", " +
        sym("s2", "y2") + ", " + cnt("y2", "c2") + " " +
        "SELECT CAST(1 AS INTEGER) AS round, a, b, pair_count FROM m1 " +
        "UNION ALL SELECT 2, a, b, pair_count FROM m2 " +
        "UNION ALL SELECT 3, a, b, pair_count FROM " +
        "(SELECT * FROM c2 ORDER BY pair_count DESC, a, b LIMIT 10) " +
        "ORDER BY round, pair_count DESC, a, b"
    }
  )
}
