package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.ops.{TextHash, TextStats}

/** Text-analysis operators over `documents`: token counting (whitespace +
  * BPE-ish regex), language identification (stopword-profile argmax),
  * composite quality scoring, and rolling-hash document fingerprints.
  * Every query is a single scan-side projection (no shuffle except the
  * one grouped rollup) with an exact DuckDB oracle.
  */
object TextQueries extends QueryPack {

  private val P = TextHash.P31

  /** TextRank iterations (unrolled identically in the mirror). */
  private val TrIters = 3
  private val h31duck = TextHash.h31Duck("s")

  /** Only apply a BPE merge when the winning pair is plain
    * alphanumerics — regex metachars diverge between Java regex and
    * RE2 (shared verbatim by both engines; anchored full-match).
    */
  private val SafePairRe = "^[a-z0-9]+ [a-z0-9]+$"

  /** [[SafePairRe]] widened with underscore for the multi-round BPE
    * train: round ≥ 2 pairs may contain tokens produced by earlier
    * merges (`a_b`), still regex-metacharacter-free.
    */
  private val SafeTrainPairRe = "^[a-z0-9_]+ [a-z0-9_]+$"

  /** text_bpe_train merge count — fixed so the DuckDB oracle can unroll
    * the rounds as a CTE chain.
    */
  private val BpeTrainRounds = 3

  /** text_vocab_coverage checkpoint sizes (the fixture vocabulary is
    * ~31 tokens, so the curve bends inside this range).
    */
  private val VocabKs = Seq(5, 10, 20)

  /** text_bm25_topk query terms (fixture-vocabulary tokens). */
  private val Bm25Terms = Seq("spark", "join", "table")
  private val Bm25TermsSql = Bm25Terms.map(t => s"'$t'").mkString(", ")

  /** The BM25 tf-saturation factor tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with k1 = 1.2, b = 0.75, avgdl = tot_tok/n_docs — one shared
    * left-associated expression over exact integer columns (tf, dl,
    * tot_tok, n_docs), parsed by both grammars into the identical IEEE
    * evaluation.
    */
  private val Bm25TfSatSql =
    "CAST(tf AS DOUBLE) * 2.2e0 / (CAST(tf AS DOUBLE) + 1.2e0 * " +
      "(2.5e-1 + 7.5e-1 * CAST(dl AS DOUBLE) / " +
      "(CAST(tot_tok AS DOUBLE) / CAST(n_docs AS DOUBLE))))"

  /** The unrolled BPE merge cascade as a WITH body: d0 = corpus, then
    * per round a bigram rollup, safe-winner pick, and corpus rewrite —
    * ends at `d$BpeTrainRounds` (the fully merged corpus) and `top$r`
    * (per-round winners). Shared by the train and apply oracles.
    *
    * The rewrite is a LEFT JOIN + COALESCE, NOT a cross join: a round
    * with no safe winner must leave the corpus UNCHANGED (as the Spark
    * loop does) — a plain `FROM d, top` would empty every later d$r,
    * which coincidentally matches for the merge-table output but
    * diverges for text_bpe_apply, which compares corpora (r5 review).
    */
  private lazy val bpeTrainCtes: String = {
    val d0 = "d0 AS (SELECT doc_id, text FROM documents)"
    val rounds = (1 to BpeTrainRounds).map { r =>
      s"""bi$r AS (
         |  SELECT g, COUNT(*) AS n FROM (
         |    SELECT unnest(
         |      CASE WHEN len(string_split(text, ' ')) >= 2
         |        THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
         |        ELSE [] END) AS g
         |    FROM (SELECT string_split(text, ' ') AS w, text
         |          FROM d${r - 1}))
         |  GROUP BY 1),
         |top$r AS (
         |  SELECT g AS pair, n AS pair_n FROM (
         |    SELECT g, n,
         |      row_number() OVER (ORDER BY n DESC, g) AS r FROM bi$r)
         |  WHERE r = 1 AND regexp_matches(g, '$SafeTrainPairRe')),
         |d$r AS (
         |  SELECT doc_id,
         |    COALESCE(regexp_replace(d.text,
         |        '\\b' || t.pair || '\\b', replace(t.pair, ' ', '_'), 'g'),
         |      d.text) AS text
         |  FROM d${r - 1} d LEFT JOIN top$r t ON TRUE)""".stripMargin
    }
    (d0 +: rounds).mkString(",\n")
  }

  /** eval_calibration_bins body over an arbitrary documents frame — the
    * probe-shareable form (ScaleProbe runs it at rows ×c; output is the
    * fixed 10 deciles, a fixed-output arm judged on the job ratio):
    * one scan, one map-side-combinable rollup, fixed-point mean.
    */
  private[graft] def calibrationBins(docs: DataFrame): DataFrame = {
    val q = TextStats.qualityScore(col("text"))
    docs
      .select(
        least(floor(q * 10), lit(9.0)).cast("int").as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"),
        floor(q * 1e6).cast("long").as("qfix"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
        sum(col("qfix")).as("sq"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        expr("CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)")
          .as("pos_rate"),
        expr("CAST(sq AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1e6")
          .as("mean_quality"))
  }

  /** Stopword list for text_normalize — shared literal on both engines. */
  private val Stopwords = Seq("the", "a", "an", "and", "of", "to", "did",
    "worth", "end")

  /** PII regexes, shared verbatim by both engines (conservative syntax —
    * char classes, bounded repeats, anchors — that Java regex and RE2
    * parse identically; no lookaround, no backreferences).
    */
  private val EmailRe = "[a-z0-9.]+@[a-z][a-z0-9.]*[a-z]"
  private val PhoneRe = "\\+1-555-[0-9]{4}"
  private val IpRe = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TextRank keyword extraction — PageRank over the token
    // co-occurrence graph (adjacent-token edges, both orientations,
    // distinct), the classic unsupervised keyworder. Cross-family
    // reuse is the point: nodes are md5-h31 token ids so the rank
    // kernel is the SAME [[graft.ops.PageRank]] (fixed-point-quantized
    // contributions → hash-exact ranks) the graph pack certifies, and
    // the top-20 readback joins names on via the distinct vocabulary.
    // h31 collisions merge tokens on BOTH engines identically — the
    // KMV "hash universe" contract. Scale shape: edges and vocab are
    // one scan each; each of the 3 rank rounds is one keyed join +
    // grouped sum over the checkpointed edge table; top-20 is
    // TakeOrdered, never a global sort.
    "text_textrank_keywords" -> ((s, dir) => {
      val w = Tables(s, dir, "documents")
        .select(TextHash.tokens(col("text")).as("w"))
      // adjacent pairs by zip_with (no concat+re-split round trip),
      // one md5 per endpoint (not one per orientation)
      val bi = w.filter(size(col("w")) >= 2)
        .select(explode(expr(
          "zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1)," +
            " (x, y) -> struct(x AS a, y AS b))")).as("p"))
        .filter(col("p.a") =!= col("p.b"))
        .select(TextHash.h31(col("p.a")).as("ha"),
          TextHash.h31(col("p.b")).as("hb"))
      val edges = bi.select(explode(array(
          struct(col("ha").as("src"), col("hb").as("dst")),
          struct(col("hb").as("src"), col("ha").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct()
      val vocab = Tables(s, dir, "documents")
        .select(explode(TextHash.tokens(col("text"))).as("token"))
        .distinct()
        .select(col("token"), TextHash.h31(col("token")).as("node"))
      graft.ops.PageRank(edges, TrIters)
        .join(vocab, Seq("node"))
        .orderBy(col("r").desc, col("token"))
        .limit(20)
        .select(col("token").as("keyword"), col("r"))
    }),

    // PII redaction — the scrub pass a training corpus runs before
    // anything else sees the text. The fixtures carry no PII, so a
    // deterministic message column is SYNTHESIZED from events (email,
    // phone, IP per row) and then redacted; what's under test is the
    // scan-side regex machinery and the per-class counts, which is
    // exactly what transfers to real text. Replacement order
    // email→phone→IP; counts are taken on the pre-redaction text.
    "text_pii_redact" -> ((s, dir) => {
      val msg = Tables(s, dir, "events")
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
        .select(col("event_id"), concat(
          lit("user"), col("user_id").cast("string"),
          lit("@mail.example called +1-555-"),
          lpad(col("k").cast("string"), 4, "0"),
          lit(" from 10."), (col("k") % 256).cast("string"),
          lit("."), (col("user_id") % 256).cast("string"),
          lit(".7")).as("msg"))
      msg.select(
        col("event_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("msg"), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]"),
          IpRe, "[IP]").as("redacted"),
        regexp_count(col("msg"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(col("msg"), lit(PhoneRe)).cast("long").as("n_phone"),
        regexp_count(col("msg"), lit(IpRe)).cast("long").as("n_ip"))
    }),

    // Corpus drift between two sources, chi-square over the pooled token
    // distribution — the data-quality gate that catches a crawl slice
    // whose vocabulary shifted. Chi-square (not KL) because it is pure
    // rational arithmetic: log is transcendental and engines may differ
    // in the last ULP, but (obs−exp)²/exp is add/mul/div on identical
    // operands. Per-token contributions are fixed-point-quantized before
    // the order-sensitive total. One shuffle (token rollup); the
    // contribution scan is a broadcast of two scalar totals.
    "text_drift_chi2" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(TextHash.tokens(col("text"))).as("t"))
      val counts = toks.groupBy("t")
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("na"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("nb"))
      val totals = counts.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      val scored = counts.crossJoin(broadcast(totals))
        .withColumn("e",
          (col("na") + col("nb")).cast("double") /
            (col("ta") + col("tb")).cast("double"))
        .withColumn("ea", col("ta").cast("double") * col("e"))
        .withColumn("eb", col("tb").cast("double") * col("e"))
        .withColumn("contrib",
          (col("na").cast("double") - col("ea")) *
            (col("na").cast("double") - col("ea")) / col("ea") +
            (col("nb").cast("double") - col("eb")) *
              (col("nb").cast("double") - col("eb")) / col("eb"))
        .withColumn("cfix", floor(col("contrib") * 1e6).cast("long"))
      scored.agg(
        count(lit(1)).as("n_tokens"),
        (sum(col("cfix")).cast("double") / 1e6).as("chi2"),
        max(struct(col("cfix"), col("t"))).as("top"))
        .select(col("n_tokens"), col("chi2"),
          col("top.t").as("top_token"),
          (col("top.cfix").cast("double") / 1e6).as("top_contrib"))
    }),

    // Tokenizer-vocabulary coverage: per-document out-of-vocabulary rate
    // against the corpus's own top-25 tokens — the stat that decides
    // whether a tokenizer's vocab fits a corpus before training on it.
    // The vocab is a broadcast top-k (TakeOrdered, no global sort); the
    // per-doc check is a scan-side array fold against the broadcast
    // vocab array — no token-level shuffle at all.
    "text_oov_rate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val vocab = docs
        .select(explode(TextHash.tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t")).limit(25)
        .agg(sort_array(collect_list(col("t"))).as("vocab"))
      docs.crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          size(TextHash.tokens(col("text"))).cast("long").as("n_tokens"),
          size(filter(TextHash.tokens(col("text")),
            t => !array_contains(col("vocab"), t))).cast("long").as("n_oov"))
        .withColumn("oov_rate",
          col("n_oov").cast("double") / col("n_tokens").cast("double"))
    }),

    // Bigram-LM cross-entropy scoring in EXACT INTEGER BITS — the
    // CCNet-shape quality filter (score each document under a language
    // model trained on the corpus itself; outliers are boilerplate,
    // gibberish, or wrong-language text). The add-one-smoothed bigram
    // probability p(w2|w1) = (c12+1)/(c1+V) is a rational, and its
    // -log2 is approximated as floor(log2 den) - floor(log2 num) — each
    // floor-log2 computed EXACTLY as length(bin(n))-1, pure integer
    // domain. That forfeits sub-bit precision (each term is within 1
    // bit of true -log2 p) but buys engine-portable determinism: no
    // libm log whose last ulp differs between JVM and C, and the
    // per-doc total is an order-free int64 sum, never a float Σ whose
    // associativity the engines could exercise differently (the
    // agg_corr convention applied to LM scoring).
    // Scale: gram stats are one map-side-combinable rollup each; the
    // per-occurrence bits attach by a shuffle join on the gram (stats
    // side is one row per bigram TYPE — AQE handles hot-gram skew);
    // V is a broadcast scalar. Nothing is ever all-pairs.
    "text_lm_bits" -> ((s, dir) => lmBits(Tables(s, dir, "documents"))),

    // Document-length histogram (round-11): ⌊log2 tokens⌋-bucketed doc
    // counts and token mass per source — the first corpus-profile plot
    // (truncation spikes, short-doc spam, source length mix) next to
    // text_token_counts' totals. One scan, size() per row (no
    // explode), one rollup.
    "text_doclen_hist" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("source"),
          size(TextHash.tokens(col("text"))).cast("long").as("ntok"))
        .groupBy(col("source"),
          graft.ops.Bits.floorLog2(col("ntok")).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").as("sum_tokens"))),

    // Bigram conditional LM bits (round-11): text_lm_bits prices the
    // corpus under a UNIGRAM model; this row prices it under the
    // bigram conditional — bits(w|prev) := ⌊log2 c(prev,·)⌋ −
    // ⌊log2 c(prev,w)⌋, the floor-log2 fixed-point DEFINITION of
    // −log2 P̂(w|prev) (same no-libm discipline as lm_bits: the
    // quantization is the metric, identical on both engines). The
    // unigram-vs-bigram bits gap is the standard redundancy signal
    // template/boilerplate detection thresholds on. Plan: one
    // posexplode, one per-doc lag window (token order is per-doc
    // position — bounded partitions), two (source, prev[, w]) rollups,
    // one broadcast-size join on (source, prev).
    "text_bigram_lm_bits" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val tok = Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          posexplode(TextHash.tokens(col("text"))).as(Seq("pos", "w")))
        .select(col("source"), col("doc_id"), col("pos"),
          TextHash.h31(col("w")).as("h"))
      val big = tok
        .withColumn("prev", lag("h", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("source"), col("prev"), col("h"))
      val c2 = big.groupBy("source", "prev", "h")
        .agg(count(lit(1)).as("c2"))
      val c1 = big.groupBy("source", "prev")
        .agg(count(lit(1)).as("c1"))
      c2.join(c1, Seq("source", "prev"))
        .select(col("source"), col("c2"),
          (col("c2") * (graft.ops.Bits.floorLog2(col("c1")) -
            graft.ops.Bits.floorLog2(col("c2")))).as("bits"))
        .groupBy("source")
        .agg(sum("c2").as("n_bigrams"),
          sum("bits").as("total_bits"))
        .withColumn("avg_bits", col("total_bits").cast("double") /
          col("n_bigrams").cast("double"))
    }),

    // Marginal-diversity curve: per document (in doc_id ingest order),
    // how many bigram TYPES it introduces that no earlier document
    // contains — the novelty signal a curation pass reads to find the
    // point where a crawl stops adding information (near-duplicate
    // tails introduce ~0 new types; fresh domains spike). first_doc
    // per type is one min-rollup (map-side combinable, one row per
    // TYPE); the per-doc share is distinct-types-in-doc vs
    // first-introduced — exact integers, one final division. Nothing
    // compares documents pairwise: novelty is a corpus-rollup join,
    // type-cardinality throughout.
    "text_ngram_novelty" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // grams travel as md5-h31 longs (the text_source_overlap
      // contract, via the span-hash kernel — no gram string is ever
      // built); the distinct exchange carries (doc_id, long)
      val dg = docs.select(col("doc_id"),
          explode(TextHash.shingleHashes(col("text"), 2)).as("g"))
        .distinct()
      val firstDoc = dg.groupBy("g").agg(min(col("doc_id")).as("fd"))
      val perDoc = dg.join(firstDoc, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_types"),
          sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
            .as("n_new"))
      docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_types"), lit(0L)).as("n_types"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          when(coalesce(col("n_types"), lit(0L)) > 0,
            col("n_new").cast("double") / col("n_types").cast("double"))
            .as("novelty"))
    }),

    // Whitespace + BPE-ish token counts per document.
    "text_token_counts" -> ((s, dir) => {
      Tables(s, dir, "documents").select(
        col("doc_id"),
        TextStats.nTokens(col("text")).cast("long").as("n_ws"),
        TextStats.nBpeTokens(col("text")).cast("long").as("n_bpe"),
        length(col("text")).cast("long").as("len"))
    }),

    // Hashing-trick featurizer — the fixed-width sparse bag-of-words a
    // linear model or gradient-boosted ranker trains on without ever
    // materializing a vocabulary (the vocabulary IS the hash range, so
    // the featurizer needs no fitted state and no driver-side dict —
    // the property that makes it the 100 TB text baseline). Tokens
    // hash through the shared cross-engine h31 into 32 buckets
    // scan-side; the only shuffle is the (doc, bucket) count rollup,
    // and the exchange carries (doc_id, bucket) ints — never text.
    // Output is the sparse COO form (doc_id, bucket, n_tokens);
    // downstream training consumes it as-is or pivots per partition.
    "text_feature_hash" -> ((s, dir) => {
      val NBuckets = 32
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextHash.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), (TextHash.h31(col("tok")) % NBuckets)
          .as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("n_tokens"))
    }),

    // Language-ID: stopword-profile scores + argmax prediction, plus a
    // per-language corpus rollup against the fixture's labels.
    "text_langid" -> ((s, dir) => {
      val toks = TextHash.tokens(col("text"))
      Tables(s, dir, "documents").select(
        col("doc_id"), col("lang").as("label"),
        TextStats.langId(toks).as("pred"),
        // find("en"), not .head: the profile order is the tie-break
        // priority and may be legitimately edited — a prepended profile
        // would silently relabel this column's language
        TextStats.profileScore(toks,
            TextStats.LangProfiles.find(_._1 == "en").get._2)
          .cast("long").as("s_en"))
    }),

    // Cohen's κ of the langid classifier against the gold `lang`
    // column — agreement corrected for chance, the number that says
    // whether a cheap heuristic labeler is trustworthy enough to GATE
    // data on (raw accuracy flatters any classifier on a skewed label
    // mix). Everything up to the statistic is exact: the confusion
    // matrix is one grouped count (map-side combinable; |classes|²
    // rows regardless of corpus size), marginal products ride in
    // DECIMAL(38,0) so n² survives corpus counts past int64, and κ =
    // (n·agree − Σ ng·np) / (n² − Σ ng·np) is ONE IEEE division of the
    // two exact operands (the agg_corr convention). Degenerate case
    // (all mass in one class, pe = n²) yields NULL, never NaN.
    "text_langid_kappa" -> ((s, dir) => {
      val pred = queries("text_langid")(s, dir).select("label", "pred")
      val conf = pred.groupBy("label", "pred").agg(count(lit(1)).as("nc"))
      val g = conf.groupBy(col("label").as("cls")).agg(sum("nc").as("ng"))
      val pm = conf.groupBy(col("pred").as("cls")).agg(sum("nc").as("np"))
      val pe = g.join(pm, Seq("cls"))
        .agg(coalesce(sum(expr("CAST(ng AS DECIMAL(38,0)) * np")),
          expr("CAST(0 AS DECIMAL(38,0))")).as("pe_num"))
      val t = pred.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("label") === col("pred"), lit(1L))), lit(0L))
          .as("n_agree"))
      t.crossJoin(broadcast(pe))
        .select(col("n"), col("n_agree"),
          (col("n_agree").cast("double") / col("n").cast("double")).as("po"),
          expr("CASE WHEN CAST(n AS DECIMAL(38,0)) * n - pe_num > 0 THEN" +
            " CAST(CAST(n AS DECIMAL(38,0)) * n_agree - pe_num AS DOUBLE)" +
            " / CAST(CAST(n AS DECIMAL(38,0)) * n - pe_num AS DOUBLE)" +
            " END").as("kappa"))
    }),

    // Composite quality score with its component signals.
    "text_quality" -> ((s, dir) => {
      val toks = TextHash.tokens(col("text"))
      Tables(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (TextStats.totalTokenChars(toks).cast("double") /
          size(toks).cast("double")).as("avg_token_len"),
        TextStats.qualityScore(col("text")).as("quality"))
    }),

    // Per-source readability (round-12): the FORCAST grade — the one
    // published readability formula with NO sentence term (this
    // corpus has no sentence punctuation; Flesch/Coleman-Liau are
    // undefined on it). Syllable proxy = vowel-group runs
    // ([aeiouy]+); a monosyllabic word has exactly one. FORCAST =
    // 20 − (monosyllables per 150 words)/10, i.e. 20 − 15·mono/words.
    // Everything is exact integer counts computed SCAN-SIDE inside
    // one higher-order filter per row (no token explode, no shuffle
    // before the per-source rollup); the grade is one double
    // expression over the rolled-up integers, token-identical on both
    // engines.
    "text_readability" -> ((s, dir) =>
      readabilityOf(Tables(s, dir, "documents"))),

    // The one-row corpus health card — the numbers every curation
    // dashboard leads with, in ONE pass: volume (docs, tokens, mean
    // length), language share, and the exact-duplicate rate
    // (1 − distinct text hashes / docs; texts compare as md5-h31
    // longs, the repo's hash-universe contract — no exchange carries
    // text). Spark plans the mixed distinct/plain aggregate as the
    // standard two-phase expand; everything else folds map-side.
    "corpus_health_card" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"),
          size(TextHash.tokens(col("text"))).cast("long").as("ntok"),
          TextHash.h31(col("text")).as("h"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          countDistinct(col("h")).as("n_distinct_texts"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
        .select(col("n_docs"), col("n_tokens"), col("n_distinct_texts"),
          expr("CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)")
            .as("mean_doc_tokens"),
          expr("CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE)")
            .as("en_share"),
          expr("1e0 - CAST(n_distinct_texts AS DOUBLE)" +
            " / CAST(n_docs AS DOUBLE)").as("exact_dup_rate"))),

    // Per-source boilerplate-prefix audit: the most common first-8-
    // token fingerprint and its share — a share near 1.0 means the
    // source prepends a header/banner every curation pipeline strips
    // before dedup (boilerplate dominates shingle sets and welds
    // unrelated docs into near-dup clusters). The fingerprint is the
    // FIRST element of the span-hash kernel's shingle array (k=8) —
    // no prefix string is built; docs under 8 tokens can't carry the
    // fingerprint and drop on both engines. This fixture has no
    // planted boilerplate, so shares sit at 1/n_docs — the audit's
    // clean reading, pinned as exactly that by the oracle.
    "text_boilerplate_prefix" -> ((s, dir) => {
      val pre = Tables(s, dir, "documents")
        .select(col("source"),
          TextHash.shingleHashes(col("text"), 8).as("hs"))
        .filter(size(col("hs")) >= 1)
        .select(col("source"), element_at(col("hs"), 1).as("p"))
      val cnt = pre.groupBy("source", "p").agg(count(lit(1)).as("n"))
      val tot = pre.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n").desc, col("p"))
      cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(broadcast(tot), Seq("source"))
        .select(col("source"), col("n_docs"),
          col("p").as("top_prefix"), col("n").as("n_top"),
          expr("CAST(n AS DOUBLE) / CAST(n_docs AS DOUBLE)")
            .as("top_share"))
    }),

    // Cross-SOURCE bigram-Jaccard matrix — the corpus-overlap audit a
    // dedup team runs before deciding which crawls to keep: per source
    // pair, |distinct bigrams ∩| / |∪| in exact integers, one IEEE
    // division at the end. Scale shape: the per-source distinct
    // bigram sets are the big rollup (one shuffle on (source, gram));
    // the intersection self-join keys on the GRAM, so a gram shared by
    // s sources costs C(s,2) pairs — bounded by the SOURCE count
    // squared, never corpus size (20 sources → ≤190 rows per gram; at
    // 100 TB this is the audit's whole point: output is sources², a
    // constant, whatever the corpus). Tie order src-lexicographic on
    // both engines. Grams travel as md5-h31 LONGS — no exchange
    // carries text (the pack's invariant); collisions merge grams
    // identically on both engines, the KMV hash-universe contract.
    "text_source_overlap" -> ((s, dir) => {
      val bg = Tables(s, dir, "documents")
        .select(col("source"),
          explode(TextHash.shingleHashes(col("text"), 2)).as("bg"))
        .distinct()
      val sz = bg.groupBy("source").agg(count(lit(1)).as("n"))
      bg.toDF("source_a", "bg")
        .join(bg.toDF("source_b", "bg2"),
          col("bg") === col("bg2") && col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sz.toDF("source_a", "n_a")), Seq("source_a"))
        .join(broadcast(sz.toDF("source_b", "n_b")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("n_a"),
          col("n_b"), col("n_common"),
          expr("CAST(n_common AS DOUBLE)" +
            " / CAST(n_a + n_b - n_common AS DOUBLE)").as("jaccard"))
    }),

    // Reliability diagram of the quality scorer against the lang
    // label — the calibration readout an eval pipeline draws before
    // trusting a scorer's thresholds: per score-decile bin, size,
    // positive rate, and the mean score. One scan, one rollup. The
    // mean folds FIXED-POINT longs (a float mean is fold-order-
    // dependent and could never hash-match); the bin id floors a
    // double both engines compute bit-identically, so the decile
    // edges agree everywhere.
    "eval_calibration_bins" -> ((s, dir) =>
      calibrationBins(Tables(s, dir, "documents"))),

    // Exact rank-based AUC (Mann–Whitney with midranks) of the quality
    // scorer against the lang label — the one-number readout next to
    // the calibration diagram. ALL integer until one final division:
    // scores quantize to qfix (the calibration discipline), ranks fold
    // as midranks over the per-score rollup (2·mid = 2·cum_before +
    // cnt + 1 — integer), U = Σ_pos midrank − n_pos(n_pos+1)/2 in
    // DECIMAL(38,0)/HUGEINT. A float rank-sum could never hash-match;
    // this one does by construction. Plan: one scan, one
    // map-side-combinable per-score rollup, then a running total over
    // the DISTINCT-SCORE table — bounded by the 1e6 quantization
    // resolution, not the corpus, so the single-partition window is a
    // metadata operation at any scale (the agg_quantile_hist bound
    // argument).
    "eval_auc_rank" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val q = TextStats.qualityScore(col("text"))
      val scored = Tables(s, dir, "documents")
        .select(floor(q * 1e6).cast("long").as("qfix"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val byScore = scored.groupBy("qfix")
        .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("npos"))
      val w = W.orderBy("qfix")
        .rowsBetween(W.unboundedPreceding, -1)
      val smid = byScore
        .withColumn("cumb", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .agg(sum(expr(
          "CAST(npos AS DECIMAL(38,0)) * (2 * cumb + cnt + 1)"))
          .as("smid"))
      val tot = scored.agg(sum(col("pos")).as("np"),
        (count(lit(1)) - sum(col("pos"))).as("nn"))
      smid.crossJoin(broadcast(tot))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"),
          when(col("np") > 0 && col("nn") > 0, expr(
            "CAST(smid - CAST(np AS DECIMAL(38,0)) * (np + 1) AS DOUBLE)" +
              " / CAST(2 * CAST(np AS DECIMAL(38,0)) * nn AS DOUBLE)"))
            .as("auc"))
    }),

    // Hapax-legomena ratio per source — the lexical-richness readout a
    // corpus health dashboard tracks (a source whose hapax share
    // collapses is template/boilerplate-heavy; one where it explodes
    // is OCR noise or spam). Tokens travel as md5-h31 LONGS (the
    // pack's no-text-through-exchanges invariant); per-(source, token)
    // counts fold map-side, the per-source rollup is exact integers,
    // one division.
    "text_hapax_ratio" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("source"),
          explode(TextHash.tokens(col("text"))).as("w"))
        .select(col("source"), TextHash.h31(col("w")).as("h"))
      tok.groupBy("source", "h").agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("vocab"), col("n_hapax"),
          expr("CAST(n_hapax AS DOUBLE) / CAST(vocab AS DOUBLE)")
            .as("hapax_ratio"))
    }),

    // Zipf slope per source (round-11): the corpus-health scaling
    // exponent — rank tokens by frequency, fit y = a + b·x over
    // (x, y) = (⌊log2 rank⌋, ⌊log2 count⌋) by least squares; natural
    // text sits near b ≈ −1, and a flat/steep slope flags boilerplate
    // or template spam. Arithmetic discipline: both logs are the
    // floor-log2 native expression (lm_bits' trick — no libm, no float
    // accumulation), the fit's normal equations are EXACT integer sums
    // (k·Σxy − Σx·Σy over k·Σx² − (Σx)²), emitted as BIGINT num/den
    // with the one double division last — order-free on both engines.
    // Ranking is per-source (row_number window partitioned by source:
    // parallel across sources; a single 100 TB-vocab source lifts to
    // ops/GlobalRank exactly as text_vocab_coverage does). At sf scale
    // the int64 products hold to vocab ~10⁸ per source; past that the
    // sums lift to DECIMAL(38,0) (the betweenness overflow discipline).
    "text_zipf_slope" -> ((s, dir) =>
      zipfSlope(Tables(s, dir, "documents"))),

    // The GraftExtensions SQL surface end-to-end: the registered native
    // functions driven from plain spark.sql text (what a SQL-only user
    // of the engine writes).
    "sql_native_functions" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      Tables(s, dir, "documents").createOrReplaceTempView("docs_sqlfn")
      s.sql(
        """SELECT doc_id,
          |  graft_hash60(text) AS h,
          |  graft_rolling_fp(
          |    transform(split(text, ' '), t -> graft_hash60(t))) AS fp,
          |  graft_simhash(
          |    transform(split(text, ' '), t -> graft_hash60(t))) AS sketch
          |FROM docs_sqlfn""".stripMargin)
    }),

    // Vocabulary coverage curve — the tokenizer-sizing question: what
    // fraction of all corpus token OCCURRENCES do the top-k vocabulary
    // entries cover, for each candidate k? Tokens rank globally by
    // (count desc, token) via ops/GlobalRank (range-partitioned
    // parallel rank — the vocab table at 100 TB is itself large, and a
    // single-partition ROW_NUMBER window would serialize it); each k's
    // covered mass is then a conditional aggregate over the ranked
    // table, NOT a running-sum window — the curve needs only the |K|
    // checkpoint values. The division is the one double op, over exact
    // integer counts.
    "text_vocab_coverage" -> ((s, dir) => {
      val counts = Tables(s, dir, "documents")
        .select(explode(TextHash.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total_tokens"))
      val ranked = graft.ops.GlobalRank.withRowNumber(counts, "rn",
        Seq(col("n").desc, col("token")))
      ranked
        .select(explode(array(VocabKs.map(lit): _*)).as("k"),
          col("rn"), col("n"))
        .filter(col("rn") <= col("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_vocab"), sum(col("n")).as("covered_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_vocab"), col("covered_tokens"),
          col("total_tokens"),
          (col("covered_tokens").cast("double") /
            col("total_tokens").cast("double")).as("coverage"))
    }),

    // Corpus vocabulary, top-k by frequency: the classic wide wordcount.
    // One shuffle (token groupBy with map-side partial counts); the
    // top-k is TakeOrdered (per-partition heap + driver merge of k),
    // never a global sort. Deterministic tie-break on the token itself.
    "text_vocab_topk" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(desc("n"), asc("token"))
        .limit(100)
    }),

    // BM25 term-at-a-time retrieval: per query term, the top-10 docs by
    // the BM25 term score (k1 = 1.2, b = 0.75). Within one term the idf
    // factor is a positive constant, so the per-term ranking IS the
    // ranking by the tf-saturation component — computed here as one
    // shared rational expression over exact integer inputs (tf, dl,
    // corpus totals), no transcendental for the engines to round apart
    // (the text_bigram_lift discipline); df ships in the output so the
    // downstream combiner applies whichever idf variant it wants when
    // summing terms (the document-at-a-time accumulate is a groupBy on
    // doc over these postings). Plan: dl is a scan-side projection
    // carried through the explode, the term filter cuts the posting
    // explode to the query's terms before the one (doc, term) rollup,
    // df and the corpus totals are tiny broadcasts, and the top-10 is
    // a per-term window over only the matched postings.
    "text_bm25_topk" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .withColumn("dl", size(TextHash.tokens(col("text"))).cast("long"))
      val stats = docs.agg(sum(col("dl")).as("tot_tok"),
        count(lit(1)).as("n_docs"))
      val tf = docs
        .select(col("doc_id"), col("dl"),
          explode(TextHash.tokens(col("text"))).as("term"))
        .filter(col("term").isin(Bm25Terms: _*))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
      val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("term"))
        .orderBy(desc("tf_sat"), asc("doc_id"))
      tf.join(broadcast(dfc), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("tf_sat", expr(Bm25TfSatSql))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select("term", "doc_id", "rnk", "tf", "dl", "df", "tf_sat")
    }),

    // Collocation mining by LIFT: bigram strength as the exact rational
    // N·c(ab) / (c(a)·c(b)) — the count-only core of PMI (whose log is
    // monotone, so the TOP-K BY LIFT is the top-k by PMI without a
    // transcendental the engines could round apart). Numerator and
    // denominator are exact int64 (N·c_ab ≤ 10⁵·10⁵; the tie/order key
    // is the integer pair (lift-as-division double from identical
    // operands, bigram)). Two grouped rollups (unigrams, bigrams) + a
    // broadcast of the unigram table onto the bigram rollup; the min
    // support floor keeps one-off pairings from topping the chart on
    // spurious 1/1 counts. Corpus-statistics shape: the collocation
    // table a tokenizer or phrase-merger is seeded with.
    "text_bigram_lift" -> ((s, dir) =>
      // shared op (round-6: also weak-scaling-probed) — see
      // [[graft.ops.BigramLift]] for the two-rollup plan, the pinned
      // vocab table, and the no-third-corpus-scan total
      graft.ops.BigramLift(Tables(s, dir, "documents"), "text")),

    // Repetition ratio (Gopher-style quality rule): share of bigrams
    // that are repeats of an earlier bigram in the same doc. Scan-side
    // only — the shingle array never leaves the projection.
    "text_repetition" -> ((s, dir) => {
      // Fused native kernel (round-9): the r9 bench-method fix exposed
      // this query's single-select HOF shape evaluating the interpreted
      // shingle build FOUR times per row (10.75s — the bench's slowest
      // line); staged projections cut it to one evaluation (~1.8s), and
      // [[TextHash.bigramStats]] removes the array materialization
      // entirely — one byte pass per doc, exact distinct via zero-copy
      // span set (BigramStatsSuite pins bit-identity with the HOF
      // form). Staged select still required: the struct alias is
      // non-cheap and referenced twice, which keeps CollapseProject
      // from inlining (= re-evaluating) the kernel per field.
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextHash.bigramStats(col("text")).as("_s"))
        .select(col("doc_id"),
          col("_s.n_bigrams").as("n_bigrams"),
          col("_s.n_distinct").as("n_distinct"))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
          when(col("n_bigrams") > 0,
            lit(1.0) - col("n_distinct").cast("double") /
              col("n_bigrams").cast("double"))
            .otherwise(0.0).as("rep_ratio"))
    }),

    // Order-sensitive rolling-hash fingerprint + duplicate-cluster size.
    "text_fingerprint" -> ((s, dir) => {
      val fp = Tables(s, dir, "documents").select(
        col("doc_id"),
        TextHash.rollingFingerprint(
          TextHash.shingleHashes(col("text"), 1)).as("fp"))
      val clusters = fp.groupBy("fp").agg(count(lit(1)).as("n_dups"))
      fp.join(clusters, Seq("fp")).select("doc_id", "fp", "n_dups")
    }),

    // Winnowing fingerprints (the MOSS local-fingerprint scheme,
    // Schleimer/Wilkerson/Aiken SIGMOD'03): slide a w=8 window over each
    // doc's ordered 3-shingle hashes and record the window minimum, ties
    // to the RIGHTMOST occurrence (robust winnowing). Guarantees every
    // shared run of >= w+k-1 tokens yields a shared fingerprint, with
    // expected density 2/(w+1) — position-robust where the whole-doc
    // rolling fingerprint breaks on a single edit. The argmin-with-
    // rightmost-tie folds into ONE window MIN by packing
    // hash*2^26 + (2^26-1-pos) into a single long (hash < 2^31, so the
    // pack fits in 57 bits; min ⇒ smallest hash, then largest pos) —
    // no nested window, no self-join. Plan: scan-side shingle hashing +
    // one doc-keyed window; output rows are the per-doc fingerprint
    // index (the join key for cross-doc plagiarism/overlap detection).
    // Docs shorter than w+k-1 tokens have no full window and emit
    // nothing, per the original algorithm's guarantee domain.
    "text_winnow_fingerprint" -> ((s, dir) =>
      graft.ops.Winnow.fingerprints(
        Tables(s, dir, "documents"), "doc_id", "text")),

    // One BPE training iteration over the corpus: find the most
    // frequent adjacent token pair (deterministic tiebreak: count desc,
    // pair asc, folded as ONE struct-min aggregate) and apply the merge
    // everywhere — the greedy step a byte-pair-encoding vocabulary
    // build repeats until the vocab budget is spent. The merge applies
    // via a word-boundary-anchored regex (\b…\b, supported identically
    // by Java regex and RE2; left-to-right non-overlapping replacement
    // is the convention in both), so "a row" can never fire inside
    // "data row". Plan: one bigram rollup (hash-keyed shuffle), the
    // winning pair broadcasts, the merge is a scan-side projection.
    "text_bpe_merge_step" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // the SafePair guard (shared with the mirror) keeps the winning
      // pair out of regex-metacharacter territory — Java and RE2 only
      // share \b/replacement semantics on plain tokens — and doubles
      // as the empty-corpus guard: no bigrams (or an unsafe pair) ⇒
      // zero rows on BOTH engines, never a NULL-row divergence
      val top = docs
        .select(explode(
          TextHash.shinglesText(col("text"), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("n"))
        .agg(min(struct((-col("n")).as("neg"), col("g").as("p"))).as("m"))
        .select(col("m.p").as("pair"), (-col("m.neg")).as("pair_n"))
        .filter(col("pair").rlike(SafePairRe))
      docs.crossJoin(broadcast(top))
        .withColumn("merged", regexp_replace(col("text"),
          concat(lit("\\b"), col("pair"), lit("\\b")),
          expr("replace(pair, ' ', '_')")))
        .select(col("doc_id"), col("pair"), col("pair_n"),
          size(TextHash.tokens(col("text"))).cast("long").as("n_before"),
          size(TextHash.tokens(col("merged"))).cast("long").as("n_after"))
        .withColumn("n_merges", col("n_before") - col("n_after"))
    }),

    // Multi-round BPE training (round-5: the loop form of
    // text_bpe_merge_step) — see [[graft.ops.BpeTrain]] for the
    // per-round plan, checkpoint discipline, and the unsafe-winner
    // determinism fence. Output is the merge TABLE (rank, pair, count),
    // hash-compared against a fully unrolled DuckDB CTE chain.
    "text_bpe_train" -> ((s, dir) =>
      graft.ops.BpeTrain(Tables(s, dir, "documents"), "doc_id", "text",
        BpeTrainRounds, SafeTrainPairRe)),

    // Tokenizer APPLICATION (the other half of BPE training): the
    // learned merge table — driver metadata, ≤3 rows — folds into a
    // chained scan-side regexp_replace in rank order, reproducing
    // exactly the per-round rewrites the trainer performed. Per-doc
    // token counts before/after measure the compression the merges
    // bought. Pure projection over one corpus scan; the merge table
    // itself comes from [[graft.ops.BpeTrain.cachedMerges]] — at 100 TB
    // the table is what ships to the tokenize job, not the corpus, so
    // the tokenizer must not re-run training when a trained table for
    // this corpus already exists (r5 review: the bench double-paid the
    // most expensive pipeline in the suite).
    "text_bpe_apply" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = graft.ops.BpeTrain.cachedMerges(docs, dir, "doc_id",
          "text", BpeTrainRounds, SafeTrainPairRe)
        .sortBy(_._1)
      val applied = merges.foldLeft(col("text")) { (c, m) =>
        val pair = m._2
        regexp_replace(c, "\\b" + pair + "\\b", pair.replace(' ', '_'))
      }
      docs.select(col("doc_id"),
        size(TextHash.tokens(col("text"))).cast("long").as("n_before"),
        size(TextHash.tokens(applied)).cast("long").as("n_after"))
        .withColumn("n_merged", col("n_before") - col("n_after"))
    }),

    // Materialized inverted index — the token → postings artifact a
    // retrieval/dedup stack persists next to the corpus (the data
    // product BM25, decontamination, and exact-match lookup all read).
    // Postings are doc_ids sorted ascending and CAPPED at 20 entries
    // with the true df alongside: a stop-token's full posting list is
    // corpus-sized and nothing downstream reads past a prefix + count
    // (the maxDf discipline the Jaccard/decontaminate ops already
    // apply). One shuffle on the token; the sort-and-slice folds
    // inside the grouped aggregate, no window.
    "text_inverted_index" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(explode(TextHash.tokens(col("text"))).as("tok"),
          col("doc_id"))
        .distinct()
        .groupBy("tok")
        .agg(count(lit(1)).as("df"),
          // serialized, not array-typed: the driver's hash-compare
          // sorts rows by all columns and arrays are unhashable there
          array_join(
            slice(array_sort(collect_list(col("doc_id"))), 1, 20), ",")
            .as("postings"))
    }),

    // CCNet-style shared-segment scrub: chunk each document into
    // non-overlapping 8-token segments, count each segment's document
    // frequency ACROSS the corpus, drop every segment seen in ≥ 2
    // documents (boilerplate/template text), and rebuild the remaining
    // text in original order. The corpus-wide df rollup and the join
    // back are keyed on the 60-bit segment hash, not the segment
    // string, so the two shuffles move longs; the rebuild is an
    // order-struct sort inside one grouped aggregate (no window).
    // At sf0.01 this removes 153 genuinely shared segments.
    "text_segment_dedup" -> ((s, dir) =>
      graft.ops.SegmentDedup(
        Tables(s, dir, "documents"), "doc_id", "text")),

    // Canonicalization pass (lowercase → punctuation strip → space
    // collapse → stopword drop) — the normalize step that runs before
    // any token statistics in a real corpus. The fixture documents are
    // already canonical, so the input is the SAME synthesized
    // mixed-case/punctuated message column text_pii_redact scrubs
    // (event_type uppercased, value with decimal point, bracketed
    // user) — what is under test is the normalization machinery.
    // Pure scan-side string ops, shuffle-free; the stopword set is a
    // shared literal list on both engines.
    "text_normalize" -> ((s, dir) => {
      val raw = Tables(s, dir, "events").select(col("event_id"),
        concat(lit("User ["), col("user_id").cast("string"),
          lit("] DID "), upper(col("event_type")),
          // cents as an integer — double→string formatting is
          // engine-private, integer rendering is not
          lit(" worth $"), floor(col("value") * 100).cast("long")
            .cast("string"),
          lit(", the end!")).as("msg"))
      val canon = regexp_replace(
        regexp_replace(lower(col("msg")), "[^a-z0-9 ]", " "),
        " +", " ")
      val toks = split(trim(canon, " "), " ")
      // staged projections so the regex+split chain and the stopword
      // filter each evaluate ONCE per row (the text_repetition lesson:
      // no CSE reaches across interpreted HOFs, and CollapseProject
      // keeps stages apart when a non-cheap alias is referenced twice)
      raw.select(col("event_id"), toks.as("_toks"))
        .select(col("event_id"), col("_toks"),
          filter(col("_toks"), t =>
            !t.isin(Stopwords: _*) && length(t) > 0).as("_kept"))
        .select(col("event_id"),
          array_join(col("_kept"), " ").as("norm_text"),
          size(col("_toks")).cast("long").as("n_raw_tokens"),
          size(col("_kept")).cast("long").as("n_kept_tokens"))
    }),

    // Token-level Gini–Simpson diversity (1 − Σ pᵢ²): the probability
    // two random tokens of a document differ — a repetition/quality
    // signal that, unlike entropy, is PURE RATIONAL arithmetic: the
    // squared counts sum exactly in BIGINT and the single final
    // division is identical cross-engine. Two keyed shuffles, both
    // with map-side partials.
    "text_token_gini" -> ((s, dir) => {
      val tc = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      tc.groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          (lit(1e0) - col("ss").cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double"))
            .as("gini_diversity"))
    }),

    // Closed-form model TRAINING in one aggregate: distill the
    // composite quality score (TextStats.qualityScore — the "expensive
    // judge" stand-in) into a 2-feature linear probe, fit by the normal
    // equations. This is the scorer-distillation shape a production
    // pipeline runs (replace a costly quality judgment with a cheap
    // linear model over scan-side features): response and features are
    // fixed-point micro ints so the ten sufficient statistics
    // accumulate EXACTLY (DECIMAL(38,0)/HUGEINT, the repo's overflow
    // discipline); one global aggregate yields the Gram matrix;
    // Cramer's rule solves the 3×3 system in bit-pinned double
    // arithmetic ([[LpmSolve]], the CorrTail discipline scaled to a
    // matrix); R² comes from the same sums, never from per-row
    // residuals (whose float summation would be partial-order-
    // dependent). At 100 TB this is a map-side-combined rollup to ONE
    // row — no iteration, no driver-side data, one corpus pass.
    // (Expected fit: the composite weights avg-token-length and
    // stopword-ratio terms the features expose directly, so R² is
    // high but below 1 — the symbol-density term and the clamps are
    // the unexplained remainder; the suite pins both bounds.)
    "text_quality_lpm" -> ((s, dir) => {
      val toks = TextHash.tokens(col("text"))
      val feat = Tables(s, dir, "documents").select(
        col("doc_id"),
        floor(TextStats.qualityScore(col("text")) * lit(1e6))
          .cast("long").as("yq"),
        floor(TextStats.totalTokenChars(toks).cast("double") /
          size(toks).cast("double") * lit(1e6)).cast("long").as("x1"),
        floor(TextStats.profileScore(toks, TextStats.LangProfiles.head._2)
          .cast("double") / size(toks).cast("double") * lit(1e6))
          .cast("long").as("x2"))
      val d38 = "decimal(38,0)"
      val st = feat.agg(
        count(lit(1)).cast(d38).as("cn"),
        sum(col("x1").cast(d38)).as("csx1"),
        sum(col("x2").cast(d38)).as("csx2"),
        sum(col("x1").cast(d38) * col("x1").cast(d38)).as("cs11"),
        sum(col("x1").cast(d38) * col("x2").cast(d38)).as("cs12"),
        sum(col("x2").cast(d38) * col("x2").cast(d38)).as("cs22"),
        sum(col("yq").cast(d38)).as("csy"),
        sum(col("x1").cast(d38) * col("yq").cast(d38)).as("cs1y"),
        sum(col("x2").cast(d38) * col("yq").cast(d38)).as("cs2y"),
        sum(col("yq").cast(d38) * col("yq").cast(d38)).as("csyy"))
      st.select(
          col("cn").cast("double").as("n"),
          col("csx1").cast("double").as("sx1"),
          col("csx2").cast("double").as("sx2"),
          col("cs11").cast("double").as("s11"),
          col("cs12").cast("double").as("s12"),
          col("cs22").cast("double").as("s22"),
          col("csy").cast("double").as("sy"),
          col("cs1y").cast("double").as("s1y"),
          col("cs2y").cast("double").as("s2y"),
          col("csyy").cast("double").as("syy"),
          col("cn").cast("long").as("n_docs"))
        .select(col("n"), col("sy"), col("s1y"), col("s2y"), col("syy"),
          col("n_docs"),
          expr(LpmSolve.beta(LpmSolve.num0)).as("beta0"),
          expr(LpmSolve.beta(LpmSolve.num1)).as("beta1"),
          expr(LpmSolve.beta(LpmSolve.num2)).as("beta2"))
        .select(col("n_docs"), col("beta0"), col("beta1"), col("beta2"),
          expr(LpmSolve.r2).as("r2"))
    })
  )

  /** The text_lm_bits pipeline over an explicit documents frame —
    * shared with ScaleProbe's weak-scaling arm so the probe measures
    * the registered query's own plan, not a reimplementation.
    */
  /** text_readability's pipeline over an explicit documents frame
    * (source, text) — split out so the suite can feed constructed
    * token streams and hand-compute the FORCAST grade. Monosyllable =
    * exactly one [aeiouy]+ run; counted scan-side inside one
    * higher-order filter per row.
    */
  private[graft] def readabilityOf(docs: DataFrame): DataFrame = {
    val toks = TextHash.tokens(col("text"))
    val monoOf = filter(toks, t =>
      size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))) === 1)
    docs
      .select(col("source"), size(toks).cast("long").as("w"),
        size(monoOf).cast("long").as("m"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("m").as("n_mono"))
      .withColumn("forcast_grade",
        when(col("n_words") > 0L,
          lit(20.0) - lit(15.0) * col("n_mono").cast("double") /
            col("n_words").cast("double")))
  }

  /** text_zipf_slope's pipeline over an explicit documents frame
    * (source, text) — split out so the suite can feed constructed
    * token distributions and hand-compute the integer normal
    * equations independently.
    */
  private[graft] def zipfSlope(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n").desc, col("h"))
    val xy = docs
      .select(col("source"),
        explode(TextHash.tokens(col("text"))).as("w"))
      .select(col("source"), TextHash.h31(col("w")).as("h"))
      .groupBy("source", "h").agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(w).cast("long"))
      .select(col("source"),
        graft.ops.Bits.floorLog2(col("r")).as("x"),
        graft.ops.Bits.floorLog2(col("n")).as("y"))
    xy.groupBy("source").agg(
        count(lit(1)).as("k"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("k"),
        (col("k") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("k") * col("sxx") - col("sx") * col("sx")).as("den"))
      .withColumn("zipf_slope",
        when(col("den") =!= 0L,
          col("num").cast("double") / col("den").cast("double")))
  }

  private[graft] def lmBits(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      TextHash.tokens(col("text")).as("w"))
    val grams = tok.select(col("doc_id"),
      explode(TextHash.shingles(col("w"), 2)).as("g"))
    val cg = grams.groupBy("g").agg(count(lit(1)).as("c_g"))
    val v = tok.select(explode(col("w")).as("t"))
      .agg(countDistinct(col("t")).as("vn"))
    // c_1 as a WINDOW over the gram-type rollup, not a groupBy joined
    // back: the join form duplicated the whole corpus-explode subtree
    // in the plan (cg appears once directly and once under ctx — Spark
    // has no cross-stage CSE), which the weak-scaling probe caught as
    // a 2.4 adj_ratio. The window reads cg's 1-row-per-TYPE output
    // once; its partition key w1 is type-cardinality, never corpus-
    // cardinality, so the sort is over the stats table only.
    val w1Win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1"))
    val bits = cg.withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("c_1", sum(col("c_g")).over(w1Win))
      .crossJoin(broadcast(v))
      .select(col("g"),
        ((length(bin(col("c_1") + col("vn"))) - 1) -
          (length(bin(col("c_g") + 1)) - 1)).cast("long").as("b"))
    val perDoc = grams.join(bits, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("b")).as("total_bits"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          col("total_bits").cast("double") /
            col("n_bigrams").cast("double")).as("bits_per_bigram"))
  }

  // ---- DuckDB mirrors --------------------------------------------------
  // generated from TextStats.LangProfiles — see langScoreDuck
  private def score(lang: String) = TextStats.langScoreDuck(lang)

  /** The quality-scorer mirror as shared CTEs ending in
    * `q(doc_id, lang, n_tokens, avg_token_len, quality)` — one copy
    * serving text_quality and eval_calibration_bins so the formula
    * can never drift between them (the langidOracleSql discipline).
    */
  private lazy val qualityDuckCtes: String =
    s"""tok AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w
       |        FROM documents),
       |m AS (SELECT doc_id, lang, text, w,
       |        CAST(len(w) AS DOUBLE) AS n,
       |        CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE) AS tot,
       |        CAST(${score("en")} AS DOUBLE) AS nstop,
       |        CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
       |          / CAST(len(text) AS DOUBLE) AS symratio
       |      FROM tok),
       |q AS (SELECT doc_id, lang, CAST(n AS BIGINT) AS n_tokens,
       |        tot / n AS avg_token_len,
       |        greatest(0, 1 - abs(tot / n - 4.5) / 4.5) * 0.5
       |          + least(nstop / n * 2, 1) * 0.3
       |          + greatest(0, 1 - symratio * 5) * 0.2 AS quality
       |      FROM m)""".stripMargin

  /** The text_langid oracle body, shared verbatim with the kappa
    * oracle's prediction CTE so the two can never drift apart.
    */
  private lazy val langidOracleSql: String =
    s"""WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS w
       |             FROM documents),
       |sc AS (SELECT doc_id, lang,
       |  ${TextStats.LangProfiles.map { case (l, _) => s"${score(l)} AS s_$l" }.mkString(", ")}
       |  FROM tok)
       |SELECT doc_id, lang AS label,
       |  ${TextStats.langArgmaxCaseDuck} AS pred,
       |  s_en
       |FROM sc""".stripMargin

  def oracles: Map[String, String] = Map(
    // token-id edges + the shared PageRank CTE unroll; readback joins
    // names on via the distinct vocabulary, exactly as the engine does
    "text_textrank_keywords" ->
      s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
         |bi AS (
         |  SELECT string_split(bg, ' ')[1] AS a,
         |         string_split(bg, ' ')[2] AS b
         |  FROM (SELECT unnest(CASE WHEN len(w) >= 2
         |          THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
         |          ELSE [] END) AS bg
         |        FROM w)
         |  WHERE string_split(bg, ' ')[1] <> string_split(bg, ' ')[2]),
         |edges AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT ${TextHash.h31Duck("a")} AS src,
         |           ${TextHash.h31Duck("b")} AS dst FROM bi
         |    UNION ALL
         |    SELECT ${TextHash.h31Duck("b")} AS src,
         |           ${TextHash.h31Duck("a")} AS dst FROM bi)),
         |vocab AS (
         |  SELECT token, ${TextHash.h31Duck("token")} AS node FROM (
         |    SELECT DISTINCT unnest(string_split(text, ' ')) AS token
         |    FROM documents)),
         |${graft.ops.PageRank.duckCtes(TrIters)}
         |SELECT v.token AS keyword, r.r
         |FROM r$TrIters r JOIN vocab v ON v.node = r.node
         |ORDER BY r.r DESC, v.token LIMIT 20""".stripMargin,

    "corpus_health_card" ->
      """WITH b AS (
        |  SELECT lang, len(string_split(text, ' ')) AS ntok,
        |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
        |      % 2147483647 AS h
        |  FROM documents),
        |g AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |    COUNT(DISTINCT h) AS n_distinct_texts,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_en
        |  FROM b)
        |SELECT n_docs, n_tokens, n_distinct_texts,
        |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    AS mean_doc_tokens,
        |  CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE) AS en_share,
        |  1e0 - CAST(n_distinct_texts AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    AS exact_dup_rate
        |FROM g""".stripMargin,

    "text_boilerplate_prefix" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |           FROM documents),
        |pre AS (
        |  SELECT source,
        |    CAST('0x' || substr(md5(array_to_string(w[1:8], ' ')), 1, 15)
        |      AS BIGINT) % 2147483647 AS p
        |  FROM w WHERE len(w) >= 8),
        |cnt AS (SELECT source, p, COUNT(*) AS n FROM pre GROUP BY 1, 2),
        |tot AS (SELECT source, COUNT(*) AS n_docs FROM pre GROUP BY 1),
        |top AS (
        |  SELECT source, p, n,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, p) AS rn
        |  FROM cnt)
        |SELECT t.source, CAST(tt.n_docs AS BIGINT) AS n_docs,
        |  t.p AS top_prefix, CAST(t.n AS BIGINT) AS n_top,
        |  CAST(t.n AS DOUBLE) / CAST(tt.n_docs AS DOUBLE) AS top_share
        |FROM top t JOIN tot tt USING (source) WHERE t.rn = 1""".stripMargin,

    "text_source_overlap" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS w
        |           FROM documents),
        |bg AS (
        |  SELECT DISTINCT source, bgh AS bg FROM (
        |    SELECT source,
        |      CAST('0x' || substr(md5(bgs), 1, 15) AS BIGINT)
        |        % 2147483647 AS bgh
        |    FROM (SELECT source, unnest(CASE WHEN len(w) >= 2
        |            THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |            ELSE [] END) AS bgs
        |          FROM w))),
        |sz AS (SELECT source, COUNT(*) AS n FROM bg GROUP BY 1),
        |inter AS (
        |  SELECT x.source AS source_a, y.source AS source_b,
        |    COUNT(*) AS n_common
        |  FROM bg x JOIN bg y ON x.bg = y.bg AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b,
        |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        |  CAST(i.n_common AS BIGINT) AS n_common,
        |  CAST(i.n_common AS DOUBLE)
        |    / CAST(a.n + b.n - i.n_common AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sz a ON a.source = i.source_a
        |JOIN sz b ON b.source = i.source_b""".stripMargin,

    "text_lm_bits" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |      THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |      ELSE [] END) AS g
        |  FROM tok),
        |cg AS (SELECT g, COUNT(*) AS c_g FROM grams GROUP BY 1),
        |ctx AS (SELECT string_split(g, ' ')[1] AS w1,
        |         CAST(SUM(c_g) AS BIGINT) AS c_1
        |       FROM cg GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT t) AS vn FROM (
        |        SELECT unnest(w) AS t FROM tok)),
        |bits AS (
        |  SELECT g, CAST((len(bin(c_1 + vn)) - 1)
        |    - (len(bin(c_g + 1)) - 1) AS BIGINT) AS b
        |  FROM cg JOIN ctx ON string_split(cg.g, ' ')[1] = ctx.w1
        |  CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(b) AS BIGINT) AS total_bits
        |  FROM grams JOIN bits USING (g) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(n_bigrams, 0) AS n_bigrams,
        |  COALESCE(total_bits, 0) AS total_bits,
        |  CASE WHEN COALESCE(n_bigrams, 0) > 0
        |    THEN CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |  END AS bits_per_bigram
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,

    "text_ngram_novelty" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |dg AS (
        |  SELECT DISTINCT doc_id,
        |    CAST('0x' || substr(md5(gs), 1, 15) AS BIGINT)
        |      % 2147483647 AS g
        |  FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |        THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |        ELSE [] END) AS gs
        |    FROM tok)),
        |fd AS (SELECT g, MIN(doc_id) AS fd FROM dg GROUP BY 1),
        |pd AS (
        |  SELECT doc_id, COUNT(*) AS n_types,
        |    CAST(SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new
        |  FROM dg JOIN fd USING (g) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(n_types, 0) AS n_types,
        |  COALESCE(n_new, 0) AS n_new,
        |  CASE WHEN COALESCE(n_types, 0) > 0
        |    THEN CAST(n_new AS DOUBLE) / CAST(n_types AS DOUBLE)
        |  END AS novelty
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    "text_oov_rate" ->
      """WITH vc AS (
        |  SELECT t FROM (
        |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY t ORDER BY COUNT(*) DESC, t LIMIT 25),
        |v AS (SELECT list(t ORDER BY t) AS vocab FROM vc)
        |SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_filter(string_split(text, ' '),
        |    t -> NOT list_contains(v.vocab, t))) AS n_oov,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> NOT list_contains(v.vocab, t))) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS oov_rate
        |FROM documents, v""".stripMargin,

    "text_drift_chi2" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |counts AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb
        |  FROM toks GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
        |  FROM counts),
        |scored AS (
        |  SELECT t, CAST(floor((
        |      (CAST(na AS DOUBLE) - CAST(ta AS DOUBLE) * e)
        |        * (CAST(na AS DOUBLE) - CAST(ta AS DOUBLE) * e)
        |        / (CAST(ta AS DOUBLE) * e) +
        |      (CAST(nb AS DOUBLE) - CAST(tb AS DOUBLE) * e)
        |        * (CAST(nb AS DOUBLE) - CAST(tb AS DOUBLE) * e)
        |        / (CAST(tb AS DOUBLE) * e)) * 1e6) AS BIGINT) AS cfix
        |  FROM (
        |    SELECT t, na, nb, ta, tb,
        |      CAST(na + nb AS DOUBLE) / CAST(ta + tb AS DOUBLE) AS e
        |    FROM counts, tot)),
        |top AS (
        |  SELECT t, cfix FROM scored ORDER BY cfix DESC, t DESC LIMIT 1)
        |SELECT (SELECT COUNT(*) FROM scored) AS n_tokens,
        |  (SELECT CAST(CAST(SUM(cfix) AS BIGINT) AS DOUBLE) / 1e6
        |   FROM scored) AS chi2,
        |  top.t AS top_token,
        |  CAST(top.cfix AS DOUBLE) / 1e6 AS top_contrib
        |FROM top""".stripMargin,

    "text_pii_redact" ->
      s"""WITH msg AS (
         |  SELECT event_id,
         |    'user' || user_id || '@mail.example called +1-555-' ||
         |    lpad(CAST(CAST(json_extract_string(props, '$$.k') AS BIGINT)
         |      AS VARCHAR), 4, '0') ||
         |    ' from 10.' ||
         |    (CAST(json_extract_string(props, '$$.k') AS BIGINT) % 256) ||
         |    '.' || (user_id % 256) || '.7' AS msg
         |  FROM events)
         |SELECT event_id,
         |  regexp_replace(regexp_replace(regexp_replace(msg,
         |    '$EmailRe', '[EMAIL]', 'g'),
         |    '$PhoneRe', '[PHONE]', 'g'),
         |    '$IpRe', '[IP]', 'g') AS redacted,
         |  len(regexp_extract_all(msg, '$EmailRe')) AS n_email,
         |  len(regexp_extract_all(msg, '$PhoneRe')) AS n_phone,
         |  len(regexp_extract_all(msg, '$IpRe')) AS n_ip
         |FROM msg""".stripMargin,

    "text_token_counts" ->
      s"""SELECT doc_id,
         |  len(string_split(text, ' ')) AS n_ws,
         |  len(regexp_extract_all(text, '${TextStats.BpeTokenRe}')) AS n_bpe,
         |  len(text) AS len
         |FROM documents""".stripMargin,

    "text_langid" -> langidOracleSql,

    // Classifier-vs-gold agreement corrected for chance. κ's marginals
    // (per-class gold/pred counts and their products) stay exact
    // integers — DECIMAL(38)/HUGEINT for the products, so the formula
    // survives corpus counts whose square overflows int64 — and the
    // statistic is ONE IEEE division of the two exact operands (the
    // agg_corr convention). The HUGEINT→VARCHAR→DOUBLE hop mirrors
    // Spark's DECIMAL→DOUBLE rounding exactly, as agg_corr pinned.
    "text_langid_kappa" ->
      s"""WITH p AS ($langidOracleSql),
         |conf AS (SELECT label, pred, COUNT(*) AS nc FROM p GROUP BY 1, 2),
         |g AS (SELECT label AS cls, CAST(SUM(nc) AS BIGINT) AS ng
         |      FROM conf GROUP BY 1),
         |pm AS (SELECT pred AS cls, CAST(SUM(nc) AS BIGINT) AS np
         |       FROM conf GROUP BY 1),
         |pe AS (SELECT COALESCE(SUM(CAST(ng AS HUGEINT) * np),
         |         CAST(0 AS HUGEINT)) AS pe_num
         |       FROM g JOIN pm USING (cls)),
         |t AS (SELECT COUNT(*) AS n,
         |        CAST(COALESCE(SUM(CASE WHEN label = pred THEN 1 END), 0)
         |          AS BIGINT) AS n_agree
         |      FROM p)
         |SELECT n, n_agree,
         |  CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         |  CASE WHEN CAST(n AS HUGEINT) * n - pe_num > 0 THEN
         |    CAST(CAST(CAST(n AS HUGEINT) * n_agree - pe_num AS VARCHAR)
         |      AS DOUBLE)
         |    / CAST(CAST(CAST(n AS HUGEINT) * n - pe_num AS VARCHAR)
         |      AS DOUBLE)
         |  END AS kappa
         |FROM t CROSS JOIN pe""".stripMargin,

    "text_quality" ->
      s"""WITH $qualityDuckCtes
         |SELECT doc_id, n_tokens, avg_token_len, quality
         |FROM q""".stripMargin,

    // same scan-side list_filter over vowel-run counts; identical
    // 20 − 15·mono/words token stream
    "text_readability" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> len(regexp_extract_all(t, '[aeiouy]+')) = 1))
        |      AS BIGINT) AS m
        |  FROM documents),
        |r AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(w) AS BIGINT) AS n_words,
        |    CAST(SUM(m) AS BIGINT) AS n_mono
        |  FROM d GROUP BY 1)
        |SELECT source, n_docs, n_words, n_mono,
        |  CASE WHEN n_words > 0 THEN
        |    20.0 - 15.0 * CAST(n_mono AS DOUBLE)
        |      / CAST(n_words AS DOUBLE) END AS forcast_grade
        |FROM r""".stripMargin,

    // reliability diagram of the quality scorer against the lang
    // label: per decile bin, size, positive rate, and the mean score
    // (float MEANS are order-dependent — the mean folds fixed-point
    // longs, one final division; the bin id itself floors a double
    // both engines compute bit-identically, so the bin edges agree)
    "eval_calibration_bins" ->
      s"""WITH $qualityDuckCtes,
         |b AS (
         |  SELECT CAST(least(floor(quality * 10), 9) AS INT) AS bin,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         |    CAST(floor(quality * 1e6) AS BIGINT) AS qfix
         |  FROM q)
         |SELECT bin, COUNT(*) AS n_docs,
         |  CAST(SUM(pos) AS BIGINT) AS n_pos,
         |  CAST(CAST(SUM(pos) AS BIGINT) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
         |  CAST(CAST(SUM(qfix) AS BIGINT) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) / 1e6 AS mean_quality
         |FROM b GROUP BY bin""".stripMargin,

    // identical midrank algebra in HUGEINT; one final guarded division
    "eval_auc_rank" ->
      s"""WITH $qualityDuckCtes,
         |sc AS (SELECT CAST(floor(quality * 1e6) AS BIGINT) AS qfix,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM q),
         |bys AS (SELECT qfix, CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(pos) AS BIGINT) AS npos FROM sc GROUP BY 1),
         |mid AS (SELECT qfix, cnt, npos,
         |  COALESCE(CAST(SUM(cnt) OVER (ORDER BY qfix
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |    0) AS cumb FROM bys),
         |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS np,
         |  CAST(COUNT(*) - SUM(pos) AS BIGINT) AS nn FROM sc),
         |s AS (SELECT CAST(SUM(CAST(npos AS HUGEINT) * (2 * cumb + cnt + 1))
         |  AS HUGEINT) AS smid FROM mid)
         |SELECT np AS n_pos, nn AS n_neg,
         |  CASE WHEN np > 0 AND nn > 0 THEN
         |    CAST(smid - CAST(np AS HUGEINT) * (np + 1) AS DOUBLE)
         |      / CAST(2 * CAST(np AS HUGEINT) * nn AS DOUBLE)
         |  ELSE NULL END AS auc
         |FROM s, tot""".stripMargin,

    // same md5-h31 token identity; hash collisions merge tokens
    // identically on both engines (the KMV hash-universe contract)
    "text_hapax_ratio" ->
      s"""WITH tk AS (
         |  SELECT source, ${TextHash.h31Duck("t.w")} AS h
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
         |        FROM documents) t),
         |c AS (SELECT source, h, COUNT(*) AS n FROM tk GROUP BY 1, 2)
         |SELECT source, COUNT(*) AS vocab,
         |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hapax,
         |  CAST(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
         |FROM c GROUP BY 1""".stripMargin,

    // len(string_split) ≡ size(split); floor-log2 as length(bin(n)) − 1
    "text_doclen_hist" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents)
        |SELECT source,
        |  CAST(length(bin(ntok)) - 1 AS BIGINT) AS bucket,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS sum_tokens
        |FROM d GROUP BY 1, 2""".stripMargin,

    // bigram pairing via 1-based list indexing (xs[i-1], xs[i]) — the
    // order-preserving mirror of the per-doc lag window
    "text_bigram_lm_bits" ->
      s"""WITH dd AS (
         |  SELECT source, doc_id, string_split(text, ' ') AS xs
         |  FROM documents),
         |bg AS (
         |  SELECT source, ${TextHash.h31Duck("xs[g.i - 1]")} AS prev,
         |    ${TextHash.h31Duck("xs[g.i]")} AS h
         |  FROM dd, LATERAL (
         |    SELECT unnest(range(2, len(xs) + 1)) AS i) g),
         |c2 AS (SELECT source, prev, h, COUNT(*) AS c2 FROM bg
         |       GROUP BY 1, 2, 3),
         |c1 AS (SELECT source, prev, COUNT(*) AS c1 FROM bg
         |       GROUP BY 1, 2),
         |j AS (
         |  SELECT c2.source, c2.c2,
         |    c2.c2 * ((length(bin(c1.c1)) - 1)
         |      - (length(bin(c2.c2)) - 1)) AS bits
         |  FROM c2 JOIN c1 ON c1.source = c2.source
         |    AND c1.prev = c2.prev)
         |SELECT source, CAST(SUM(c2) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(bits) AS BIGINT) AS total_bits,
         |  CAST(CAST(SUM(bits) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(SUM(c2) AS BIGINT) AS DOUBLE) AS avg_bits
         |FROM j GROUP BY 1""".stripMargin,

    // same floor-log2 (length(bin(v)) − 1) + exact integer normal
    // equations; the one double division is last on both engines
    "text_zipf_slope" ->
      s"""WITH tk AS (
         |  SELECT source, ${TextHash.h31Duck("t.w")} AS h
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
         |        FROM documents) t),
         |c AS (SELECT source, h, COUNT(*) AS n FROM tk GROUP BY 1, 2),
         |rk AS (SELECT source, n, h, row_number() OVER (
         |    PARTITION BY source ORDER BY n DESC, h) AS r FROM c),
         |xy AS (SELECT source,
         |  CAST(length(bin(r)) - 1 AS BIGINT) AS x,
         |  CAST(length(bin(n)) - 1 AS BIGINT) AS y FROM rk),
         |ag AS (SELECT source, COUNT(*) AS k,
         |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |  CAST(SUM(x * y) AS BIGINT) AS sxy,
         |  CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM xy GROUP BY 1)
         |SELECT source, k,
         |  CAST(k * sxy - sx * sy AS BIGINT) AS num,
         |  CAST(k * sxx - sx * sx AS BIGINT) AS den,
         |  CASE WHEN k * sxx - sx * sx <> 0 THEN
         |    CAST(CAST(k * sxy - sx * sy AS BIGINT) AS DOUBLE)
         |      / CAST(CAST(k * sxx - sx * sx AS BIGINT) AS DOUBLE)
         |  END AS zipf_slope
         |FROM ag""".stripMargin,

    "sql_native_functions" ->
      s"""WITH hx AS (SELECT doc_id,
         |  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % $P AS h,
         |  list_transform(string_split(text, ' '),
         |    s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $P) AS xs
         |  FROM documents)
         |SELECT doc_id, h,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), xs),
         |    (acc, x) -> (acc * 31 + x) % $P) AS fp,
         |  ${(0 until 16).map(i =>
             s"CASE WHEN 2 * len(list_filter(xs, x -> (x >> $i) & 1 = 1)) > len(xs) THEN ${1L << i} ELSE 0 END")
             .mkString(" + ")} AS sketch
         |FROM hx""".stripMargin,

    "text_bm25_topk" ->
      s"""WITH dd AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         |    string_split(text, ' ') AS w
         |  FROM documents),
         |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS tot_tok,
         |         COUNT(*) AS n_docs FROM dd),
         |tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl FROM (
         |    SELECT doc_id, dl, unnest(w) AS term FROM dd)
         |  WHERE term IN ($Bm25TermsSql) GROUP BY 1, 2),
         |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, tf.dl, df,
         |    $Bm25TfSatSql AS tf_sat
         |  FROM tf JOIN dfc USING (term), st)
         |SELECT term, doc_id, rnk, tf, dl, df, tf_sat FROM (
         |  SELECT *, row_number() OVER (PARTITION BY term
         |    ORDER BY tf_sat DESC, doc_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= 10""".stripMargin,

    "text_vocab_coverage" ->
      s"""WITH c AS (
         |  SELECT token, COUNT(*) AS n FROM (
         |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         |  GROUP BY 1),
         |r AS (SELECT token, n,
         |        row_number() OVER (ORDER BY n DESC, token) AS rn FROM c),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM c),
         |x AS (SELECT k, rn, n
         |      FROM r, (SELECT unnest([${VocabKs.mkString(", ")}]) AS k) ks
         |      WHERE rn <= k)
         |SELECT k, COUNT(*) AS n_vocab,
         |  CAST(SUM(n) AS BIGINT) AS covered_tokens, total_tokens,
         |  CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE)
         |    / CAST(total_tokens AS DOUBLE) AS coverage
         |FROM x, t
         |GROUP BY k, total_tokens""".stripMargin,

    "text_vocab_topk" ->
      """SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 100""".stripMargin,

    "text_repetition" ->
      """WITH g AS (SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) >= 2
        |      THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |      ELSE [] END AS grams
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
        |        FROM documents))
        |SELECT doc_id,
        |  len(grams) AS n_bigrams,
        |  len(list_distinct(grams)) AS n_distinct,
        |  CASE WHEN len(grams) > 0
        |    THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
        |           / CAST(len(grams) AS DOUBLE)
        |    ELSE 0.0 END AS rep_ratio
        |FROM g""".stripMargin,

    "text_fingerprint" ->
      s"""WITH fp AS (SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ' '),
         |        s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $P)),
         |    (acc, x) -> (acc * 31 + x) % $P) AS fp
         |  FROM documents),
         |cl AS (SELECT fp, count(*) AS n_dups FROM fp GROUP BY fp)
         |SELECT doc_id, fp.fp, n_dups FROM fp JOIN cl USING (fp)""".stripMargin,

    // Same pack-then-window-MIN formulation (pure integer arithmetic,
    // so the engines cannot diverge on a tie).
    "text_winnow_fingerprint" ->
      s"""WITH ${graft.ops.Winnow.duckCtes(h31duck)}
         |SELECT doc_id, pos, fp FROM wsel""".stripMargin,

    "text_bigram_lift" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |uni AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_tok FROM toks),
        |w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |bi AS (
        |  SELECT bg, COUNT(*) AS c_ab FROM (
        |    SELECT unnest([w[i] || ' ' || w[i+1]
        |                   for i in range(1, len(w))]) AS bg
        |    FROM w WHERE len(w) >= 2)
        |  GROUP BY 1 HAVING COUNT(*) >= 5)
        |SELECT bg AS bigram, c_ab, ua.c AS c_a, ub.c AS c_b,
        |  (CAST(n.n_tok AS DOUBLE) * CAST(c_ab AS DOUBLE))
        |    / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
        |FROM bi
        |JOIN uni ua ON ua.t = string_split(bg, ' ')[1]
        |JOIN uni ub ON ub.t = string_split(bg, ' ')[2], n
        |ORDER BY lift DESC, bigram LIMIT 20""".stripMargin,

    "text_bpe_merge_step" ->
      s"""WITH bi AS (
         |  SELECT g, COUNT(*) AS n FROM (
         |    SELECT unnest(
         |      CASE WHEN len(string_split(text, ' ')) >= 2
         |        THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
         |        ELSE [] END) AS g
         |    FROM (SELECT string_split(text, ' ') AS w, text
         |          FROM documents))
         |  GROUP BY 1),
         |top AS (
         |  SELECT g AS pair, n AS pair_n FROM (
         |    SELECT g, n,
         |      row_number() OVER (ORDER BY n DESC, g) AS r FROM bi)
         |  WHERE r = 1 AND regexp_matches(g, '$SafePairRe'))
         |SELECT doc_id, pair, pair_n, n_before, n_after,
         |  n_before - n_after AS n_merges
         |FROM (
         |  SELECT doc_id, pair, pair_n,
         |    len(string_split(text, ' ')) AS n_before,
         |    len(string_split(regexp_replace(text,
         |      '\\b' || pair || '\\b', replace(pair, ' ', '_'), 'g'),
         |      ' ')) AS n_after
         |  FROM documents, top)""".stripMargin,

    // fully unrolled merge chain: d0 = corpus; round r = bigram rollup
    // over d(r−1), safe-winner pick, corpus rewrite. The merge-table
    // SELECT unions the per-round winners — DuckDB re-derives the same
    // cascade independently.
    "text_bpe_train" -> {
      val sel = (1 to BpeTrainRounds).map { r =>
        s"SELECT CAST($r AS BIGINT) AS merge_rank, pair, pair_n FROM top$r"
      }.mkString("\nUNION ALL ")
      s"WITH $bpeTrainCtes\n$sel"
    },

    // the applied corpus IS the train chain's final d{rounds}: per-doc
    // counts compare d0 to it
    "text_bpe_apply" ->
      s"""WITH $bpeTrainCtes
         |SELECT d0.doc_id,
         |  len(string_split(d0.text, ' ')) AS n_before,
         |  len(string_split(df.text, ' ')) AS n_after,
         |  len(string_split(d0.text, ' '))
         |    - len(string_split(df.text, ' ')) AS n_merged
         |FROM d0 JOIN d$BpeTrainRounds df ON d0.doc_id = df.doc_id""".stripMargin,

    "text_inverted_index" ->
      """SELECT tok, COUNT(*) AS df,
        |  array_to_string((list_sort(list(doc_id)))[1:20], ',')
        |    AS postings
        |FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok,
        |        doc_id
        |      FROM documents)
        |GROUP BY tok""".stripMargin,

    "text_segment_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |    generate_subscripts(string_split(text, ' '), 1) AS i
         |  FROM documents),
         |segs AS (
         |  SELECT doc_id, (i - 1) // 8 AS seg_id,
         |    string_agg(tok, ' ' ORDER BY i) AS seg
         |  FROM toks GROUP BY 1, 2),
         |hs AS (
         |  SELECT doc_id, seg_id, seg,
         |    CAST('0x' || substr(md5(seg), 1, 15) AS BIGINT) % $P AS k
         |  FROM segs),
         |dfreq AS (SELECT k, COUNT(DISTINCT doc_id) AS df FROM hs GROUP BY 1)
         |SELECT doc_id,
         |  COUNT(*) AS n_seg,
         |  COUNT(*) FILTER (WHERE df >= 2) AS n_removed,
         |  COALESCE(string_agg(seg, ' ' ORDER BY seg_id)
         |    FILTER (WHERE df < 2), '') AS clean_text
         |FROM hs JOIN dfreq USING (k)
         |GROUP BY doc_id""".stripMargin,

    "text_normalize" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH raw AS (
         |  SELECT event_id,
         |    'User [' || CAST(user_id AS VARCHAR) || '] DID '
         |      || upper(event_type) || ' worth $$'
         |      || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR)
         |      || ', the end!' AS msg
         |  FROM events),
         |canon AS (
         |  SELECT event_id,
         |    string_split(trim(
         |      regexp_replace(
         |        regexp_replace(lower(msg), '[^a-z0-9 ]', ' ', 'g'),
         |        ' +', ' ', 'g'), ' '), ' ') AS toks
         |  FROM raw)
         |SELECT event_id,
         |  array_to_string(list_filter(toks,
         |    t -> NOT list_contains($stopList, t) AND len(t) > 0), ' ')
         |    AS norm_text,
         |  len(toks) AS n_raw_tokens,
         |  len(list_filter(toks,
         |    t -> NOT list_contains($stopList, t) AND len(t) > 0))
         |    AS n_kept_tokens
         |FROM canon""".stripMargin
    },

    "text_token_gini" ->
      """WITH tc AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_types,
        |  1e0 - CAST(CAST(SUM(c * c) AS BIGINT) AS DOUBLE) /
        |    CAST(CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT) AS DOUBLE)
        |    AS gini_diversity
        |FROM tc GROUP BY doc_id""".stripMargin,

    "text_feature_hash" ->
      s"""WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    (${TextHash.h31Duck("tok")}) % 32 AS bucket
        |  FROM t)
        |SELECT doc_id, bucket, COUNT(*) AS n_tokens
        |FROM h GROUP BY 1, 2""".stripMargin,

    // text_quality_lpm: identical fixed-point features/response,
    // HUGEINT sufficient statistics VARCHAR-routed to DOUBLE once,
    // then the SAME LpmSolve fragments verbatim — the Cramer and R²
    // arithmetic cannot drift between engines because it exists in one
    // place. The response mirrors TextStats.qualityScore's pinned
    // double expression (the sample_weighted mirror's quality CTE).
    "text_quality_lpm" -> {
      val prof = TextStats.LangProfiles.head._2
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH tok AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS w
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS DOUBLE) AS nd,
         |    CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)
         |      AS tot,
         |    CAST(len(list_filter(w, t -> list_contains($prof, t)))
         |      AS DOUBLE) AS nstop,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
         |      AS DOUBLE) / CAST(len(text) AS DOUBLE) AS symratio
         |  FROM tok),
         |f AS (
         |  SELECT doc_id,
         |    CAST(floor((greatest(0, 1 - abs(tot / nd - 4.5) / 4.5) * 0.5
         |      + least(nstop / nd * 2, 1) * 0.3
         |      + greatest(0, 1 - symratio * 5) * 0.2) * 1000000e0)
         |      AS BIGINT) AS yq,
         |    CAST(floor(tot / nd * 1000000e0) AS BIGINT) AS x1,
         |    CAST(floor(nstop / nd * 1000000e0) AS BIGINT) AS x2
         |  FROM m),
         |st AS (SELECT
         |    CAST(COUNT(*) AS HUGEINT) AS cn,
         |    SUM(CAST(x1 AS HUGEINT)) AS csx1,
         |    SUM(CAST(x2 AS HUGEINT)) AS csx2,
         |    SUM(CAST(x1 AS HUGEINT) * CAST(x1 AS HUGEINT)) AS cs11,
         |    SUM(CAST(x1 AS HUGEINT) * CAST(x2 AS HUGEINT)) AS cs12,
         |    SUM(CAST(x2 AS HUGEINT) * CAST(x2 AS HUGEINT)) AS cs22,
         |    SUM(CAST(yq AS HUGEINT)) AS csy,
         |    SUM(CAST(x1 AS HUGEINT) * CAST(yq AS HUGEINT)) AS cs1y,
         |    SUM(CAST(x2 AS HUGEINT) * CAST(yq AS HUGEINT)) AS cs2y,
         |    SUM(CAST(yq AS HUGEINT) * CAST(yq AS HUGEINT)) AS csyy
         |  FROM f),
         |d AS (SELECT
         |    CAST(CAST(cn AS VARCHAR) AS DOUBLE) AS n,
         |    CAST(CAST(csx1 AS VARCHAR) AS DOUBLE) AS sx1,
         |    CAST(CAST(csx2 AS VARCHAR) AS DOUBLE) AS sx2,
         |    CAST(CAST(cs11 AS VARCHAR) AS DOUBLE) AS s11,
         |    CAST(CAST(cs12 AS VARCHAR) AS DOUBLE) AS s12,
         |    CAST(CAST(cs22 AS VARCHAR) AS DOUBLE) AS s22,
         |    CAST(CAST(csy AS VARCHAR) AS DOUBLE) AS sy,
         |    CAST(CAST(cs1y AS VARCHAR) AS DOUBLE) AS s1y,
         |    CAST(CAST(cs2y AS VARCHAR) AS DOUBLE) AS s2y,
         |    CAST(CAST(csyy AS VARCHAR) AS DOUBLE) AS syy,
         |    CAST(cn AS BIGINT) AS n_docs
         |  FROM st),
         |b AS (SELECT n, sy, s1y, s2y, syy, n_docs,
         |    ${LpmSolve.beta(LpmSolve.num0)} AS beta0,
         |    ${LpmSolve.beta(LpmSolve.num1)} AS beta1,
         |    ${LpmSolve.beta(LpmSolve.num2)} AS beta2
         |  FROM d)
         |SELECT n_docs, beta0, beta1, beta2,
         |  ${LpmSolve.r2} AS r2
         |FROM b""".stripMargin
    }
  )
}
