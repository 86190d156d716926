package graft.operators

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.Fingerprint64.fingerprint64
import graft.sources.Tables

/** §F text analysis over the `documents` table — the per-document map
  * phase of an LLM-training-data pipeline: token statistics, quality
  * scoring, language ID, content fingerprinting.
  *
  * Every operator is a pure scan-side projection (no shuffle at all):
  * at 100 TB these run at parquet-read speed, embarrassingly parallel
  * across files.
  */
object TextAnalysis {

  // The oracle mirrors each Column formula; both engines compute integer
  // token counts and then identical double arithmetic, so results are
  // bit-identical.
  private val T = "string_split_regex(trim(text), '\\s+')"

  /** t1: token counting — whitespace tokens, BPE-ish pre-tokens, chars. */
  val t1_token_count: Relational.Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        size(tokens($"text")).as("n_ws_tokens"),
        bpeishCount($"text").as("n_bpe_tokens"),
        length($"text").as("n_chars_measured"))
      .orderBy($"doc_id")
  }

  val t1_sql: String =
    s"""SELECT doc_id,
       | len($T) AS n_ws_tokens,
       | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
       | length(text) AS n_chars_measured
       |FROM documents ORDER BY doc_id""".stripMargin

  /** t2: quality scoring — stopword ratio, mean token length,
    * punctuation ratio, composite score. */
  val t2_quality_score: Relational.Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        stopwordRatio($"text").as("stopword_ratio"),
        meanTokenLen($"text").as("mean_token_len"),
        punctRatio($"text").as("punct_ratio"),
        qualityScore($"text").as("quality_score"))
      .orderBy($"doc_id")
  }

  val t2_sql: String = {
    val sw = s"CAST(len(list_filter($T, x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE)/greatest(len($T), 1)"
    val mtl = s"CAST(list_sum(list_transform($T, x -> CAST(length(x) AS BIGINT))) AS DOUBLE)/greatest(len($T), 1)"
    val punct = s"CAST(length(text) - length(regexp_replace(text, '[.,!?;:''\"()-]', '', 'g')) AS DOUBLE)/greatest(length(text), 1)"
    s"""SELECT doc_id, $sw AS stopword_ratio, $mtl AS mean_token_len,
       | $punct AS punct_ratio,
       | least($sw*4.0, 1.0)*0.4
       |  + (CASE WHEN $mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)*0.4
       |  + (1.0 - least($punct*5.0, 1.0))*0.2 AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** t3: heuristic language ID via marker stopword hits (argmax with
    * deterministic tie order), checked against nothing but itself — the
    * oracle recomputes the same pure function. */
  val t3_lang_id: Relational.Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang".as("labeled_lang"),
        langHits($"text", "en").as("en_hits"),
        langId($"text").as("predicted_lang"))
      .orderBy($"doc_id")
  }

  val t3_sql: String = {
    def hits(lang: String, markers: Seq[String]) =
      if (lang == "zh")
        // substring count (no CJK word boundaries) — the same
        // length-difference identity the Spark expression uses
        markers.map(m => s"(length(text) - length(replace(text, '$m', '')))")
          .mkString("(", " + ", ")")
      else
        s"len(list_filter($T, x -> x IN (${markers.map("'" + _ + "'").mkString(",")})))"
    val byLang = graft.functions.TextFunctions.LangMarkers
      .map { case (l, m) => l -> hits(l, m) }
    val top = s"greatest(${byLang.map(_._2).mkString(",")})"
    val cases = byLang
      .map { case (l, h) => s"WHEN $top > 0 AND $h = $top THEN '$l'" }
      .mkString(" ")
    s"""SELECT doc_id, lang AS labeled_lang,
       | ${byLang.head._2} AS en_hits,
       | CASE $cases ELSE 'und' END AS predicted_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** t4: 64-bit FNV-1a content fingerprint via the custom Catalyst
    * expression (codegen'd). No SQL oracle — the hash isn't expressible
    * in DuckDB — so the driver records a rows-only check; exact values
    * are asserted in TextSpec. */
  val t4_fingerprint: Relational.Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", fingerprint64($"text").as("fingerprint"))
      .orderBy($"doc_id")
  }

  /** t5: repetition filtering (the Gopher/MassiveText repetition rules):
    * duplicate-bigram fraction and top-token fraction, with a keep flag.
    * Boilerplate and generated spam repeat n-grams far above natural
    * prose. All ratios are exact integer quotients cast to double, so
    * the oracle is bit-identical. Pure scan-side projection.
    *
    * The top-token count is computed as the longest equal-run of the
    * SORTED token array — one O(n log n) pass per document. The naive
    * distinct×filter nest is O(|distinct|·|tokens|) per row: a
    * 100k-token document would cost ~10⁹ comparisons inside a single
    * task, which stalls whole-stage progress at web-document lengths.
    * TextDedupSpec pins the near-linear growth on a long synthetic
    * document. */
  val t5_repetition: Relational.Q = (s, dir) => {
    import s.implicits._
    val nTok = size($"toks")
    val nBig = greatest(nTok - 1, lit(0))
    val nDistinctBig = size(shinglesOfTokens($"toks", 2))
    val dupFrac = (nBig - nDistinctBig).cast("double") / greatest(nBig, lit(1))
    val topCount = topTokenCount($"toks")
    val topFrac = coalesce(topCount, lit(0)).cast("double") / greatest(nTok, lit(1))
    Tables.documents(s, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .select($"doc_id",
        round(dupFrac, 6).as("dup_bigram_frac"),
        round(topFrac, 6).as("top_token_frac"),
        (dupFrac <= 0.125 && topFrac <= 0.09).as("kept"))
      .orderBy($"doc_id")
  }

  /** Count of the most frequent element of a string array, single pass:
    * sort, then fold tracking (previous element, current run, best run).
    * Null/empty arrays yield 0. Exact — same integers as the quadratic
    * distinct×filter formulation, at O(n log n) per row. */
  private[graft] def topTokenCount(toks: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column =
    aggregate(
      array_sort(toks),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + lit(1)).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  val t5_sql: String = {
    val big = s"list_distinct([t[i] || ' ' || t[i+1] for i in generate_series(1, greatest(len(t)-1, 0))])"
    val nBig = "greatest(len(t) - 1, 0)"
    val dup = s"CAST($nBig - len($big) AS DOUBLE)/greatest($nBig, 1)"
    val top = s"CAST(coalesce(list_max(list_transform(list_distinct(t), x -> len(list_filter(t, y -> y = x)))), 0) AS DOUBLE)/greatest(len(t), 1)"
    s"""SELECT doc_id, ROUND($dup, 6) AS dup_bigram_frac,
       | ROUND($top, 6) AS top_token_frac,
       | ($dup <= 0.125 AND $top <= 0.09) AS kept
       |FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |      FROM documents) tok
       |ORDER BY doc_id""".stripMargin
  }

  /** PII patterns — engine-portable RE2/Java-common syntax (no class
    * escapes, no backreferences). */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val PhonePat = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

  /** t6: PII scrubbing — redact emails and phone numbers, report match
    * counts and the scrubbed content hash. The standard pre-training
    * privacy pass; scan-side regexes, no shuffle. (This synthetic corpus
    * contains no PII, so counts are zero here — the redaction behavior
    * itself is asserted on adversarial rows in TextDedupSpec.) */
  val t6_pii_scrub: Relational.Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        regexp_count($"text", lit(EmailPat)).as("n_emails"),
        // counted on the email-scrubbed text so counts equal APPLIED
        // redactions (the email pass can consume a phone-shaped local
        // part); mirrored in the oracle SQL
        regexp_count(regexp_replace($"text", EmailPat, "<EMAIL>"),
          lit(PhonePat)).as("n_phones"),
        sha2(scrubPii($"text"), 256).as("scrubbed_hash"))
      .orderBy($"doc_id")
  }

  /** The redaction column itself (reused by the spec). */
  def scrubPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(text, EmailPat, "<EMAIL>"),
      PhonePat, "<PHONE>")

  val t6_sql: String =
    s"""SELECT doc_id,
       | len(regexp_extract_all(text, '$EmailPat')) AS n_emails,
       | len(regexp_extract_all(
       |   regexp_replace(text, '$EmailPat', '<EMAIL>', 'g'),
       |   '$PhonePat')) AS n_phones,
       | sha256(regexp_replace(regexp_replace(text, '$EmailPat', '<EMAIL>', 'g'),
       |   '$PhonePat', '<PHONE>', 'g')) AS scrubbed_hash
       |FROM documents ORDER BY doc_id""".stripMargin

  /** t7: unigram-rarity scoring — the corpus-statistics quality signal
    * (a DSIR/perplexity-style proxy kept integer-exact for the oracle):
    * per document, the mean corpus frequency of its tokens. Two passes
    * over the exploded token relation: a vocabulary-sized groupBy
    * (bounded by the language, not the corpus), then a frequency join
    * back — shuffle keys are tokens, so hot tokens distribute across
    * the vocabulary hash space. Integer power sums → one final double
    * division → bit-identical across engines. */
  val t7_unigram_rarity: Relational.Q = (s, dir) => {
    import s.implicits._
    val tok = Tables.documentsSpread(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .filter(length($"token") > 0)
    val freq = tok.groupBy($"token").agg(count(lit(1)).as("f"))
    // Skew hardening: a plain `tok JOIN freq ON token` sends every
    // occurrence of a stopword to one reducer — "the" alone is ~5% of an
    // English corpus, so at 100 TB one task eats petascale rows. The
    // top-K hottest tokens (token frequency follows Zipf, so K=1024
    // covers the overwhelming share of occurrences) join as a BROADCAST
    // map-side — those rows never shuffle at all; only the tail (whose
    // per-token frequency is bounded by the K-th hottest) shuffle-joins.
    // Lossless: each token is in exactly one branch, and the per-doc
    // aggregate is a sum/count over the union. K is a config; 0 disables.
    val hotK = s.conf.getOption("spark.graft.text.hotTokens")
      .map(_.toInt).getOrElse(1024)
    val joined =
      if (hotK <= 0) tok.join(freq, Seq("token"))
      else {
        val hot = freq.orderBy($"f".desc, $"token").limit(hotK)
        val tailFreq = freq.join(broadcast(hot.select($"token")), Seq("token"), "left_anti")
        tok.join(broadcast(hot), Seq("token"))
          .unionByName(tok.join(tailFreq, Seq("token")))
      }
    joined
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum($"f").cast("bigint").as("sum_freq"))
      .select($"doc_id", $"n_tokens", $"sum_freq",
        round($"sum_freq".cast("double") / $"n_tokens", 4).as("mean_freq"))
      .orderBy($"doc_id")
  }

  val t7_sql: String =
    """WITH tok AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |    FROM documents) t
      |  WHERE length(token) > 0),
      |freq AS (SELECT token, COUNT(*) AS f FROM tok GROUP BY token)
      |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(f) AS BIGINT) AS sum_freq,
      | ROUND(CAST(SUM(f) AS DOUBLE) / COUNT(*), 4) AS mean_freq
      |FROM tok JOIN freq USING (token)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The t8 keyword query and BM25 constants (Robertson/Spärck Jones;
    * the Lucene-style idf = ln(1 + (N − df + ½)/(df + ½)) form, which
    * is always positive). */
  private val Bm25Terms = Seq("spark", "vector", "customer")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** t8: BM25 keyword search — top-20 documents for a fixed query term
    * set. The retrieval primitive behind corpus exploration and
    * quality-targeted sampling.
    *
    * Scale shape: term frequencies are SCAN-SIDE projections (query
    * terms are plan literals — no exploded token join, no inverted
    * index build for ad-hoc queries); corpus statistics (N, Σdl, per-
    * term df) reduce to ONE row that re-attaches by broadcast; the
    * final top-k is Spark's TakeOrderedAndProject — per-partition
    * heaps, merge of k-sized results, never a global sort. Per-term
    * scores are summed in fixed expression order (not a groupBy over
    * term rows), so the double arithmetic is reproducible across
    * engines. */
  val t8_bm25_search: Relational.Q = (s, dir) => {
    import s.implicits._
    val tf = Tables.documentsSpread(s, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .select(($"doc_id" +: size($"toks").cast("long").as("dl") +:
        Bm25Terms.map(t =>
          size(filter($"toks", x => x === t)).cast("long").as(s"tf_$t"))): _*)
    val statCols = count(lit(1)).as("n_docs") +: sum($"dl").as("sum_dl") +:
      Bm25Terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = tf.agg(statCols.head, statCols.tail: _*)
    val avgdl = $"sum_dl".cast("double") / $"n_docs"
    def idf(t: String) = log(lit(1.0) +
      ($"n_docs" - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5))
    def termScore(t: String) = {
      val f = col(s"tf_$t").cast("double")
      idf(t) * (f * (Bm25K1 + 1.0)) /
        (f + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * ($"dl" / avgdl)))
    }
    val score = Bm25Terms.map(termScore).reduce(_ + _)
    tf.join(broadcast(stats))
      .filter(Bm25Terms.map(t => col(s"tf_$t")).reduce(_ + _) > 0)
      .select(($"doc_id" +: Bm25Terms.map(t => col(s"tf_$t"))) :+
        round(score, 4).as("score"): _*)
      .orderBy($"score".desc, $"doc_id")
      .limit(20)
  }

  val t8_sql: String = {
    def tf(t: String) = s"CAST(len(list_filter($T, x -> x = '$t')) AS BIGINT)"
    val stats = s"""(SELECT COUNT(*) AS n_docs, SUM(len($T)) AS sum_dl,
       ${Bm25Terms.map(t => s"SUM(CASE WHEN ${tf(t)} > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(", ")}
       FROM documents)"""
    val avgdl = "(CAST(sum_dl AS DOUBLE) / n_docs)"
    def idf(t: String) = s"ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5))"
    def termScore(t: String) =
      s"${idf(t)} * (CAST(tf_$t AS DOUBLE) * ${Bm25K1 + 1.0}) / (CAST(tf_$t AS DOUBLE) + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * (dl / $avgdl)))"
    val score = Bm25Terms.map(termScore).mkString(" + ")
    s"""SELECT doc_id, ${Bm25Terms.map(t => s"tf_$t").mkString(", ")},
       | ROUND($score, 4) AS score
       |FROM (SELECT doc_id, CAST(len($T) AS BIGINT) AS dl,
       |        ${Bm25Terms.map(t => s"${tf(t)} AS tf_$t").mkString(", ")}
       |      FROM documents) d
       |CROSS JOIN $stats st
       |WHERE ${Bm25Terms.map(t => s"tf_$t").mkString(" + ")} > 0
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** t9: distributed BPE merge training (Sennrich et al. 2016) — learn
    * the first N byte-pair merges from corpus statistics.
    *
    * Scale design: the corpus is touched EXACTLY ONCE (one shuffle for
    * word frequencies); merge rounds then run INCREMENTALLY — the
    * global pair-count relation is maintained across rounds by deltas,
    * and each round touches only the words that CONTAIN the merged
    * pair (an adjacency filter over the persisted vocabulary): their
    * old pairs are subtracted, their post-merge pairs added, and the
    * untouched remainder of the vocabulary carries forward by
    * reference. A real tokenizer run (30k–100k merges) therefore does
    * per-round work proportional to the merged pair's support — which
    * collapses after the first few hundred merges — instead of
    * recounting the full vocabulary's pairs every round (the
    * round-per-merge full recount makes 30k merges a days-long driver
    * loop). The driver still schedules O(merges) rounds; each round
    * holds one argmax row and two bookkeeping counts (scalars only,
    * d7-loop style). Ties break on (count desc, pair) so the learned
    * merge table is deterministic and identical to the full-recount
    * formulation (the delta algebra is exact, not approximate).
    * Rows-only driver check (iterative — not SQL-expressible); the
    * merge sequence is asserted against a reference single-node BPE in
    * TextDedupSpec, and the shrinking per-round touched-row counts are
    * asserted at 50 merges. */
  val t9_bpe_train: Relational.Q = (s, dir) => trainedMerges(s, dir)

  /** Session-memoized trained merge table for the CATALOG queries: t9
    * (train) and t10 (encode) both need the same table, and a session
    * that runs both should train once — the production shape, where
    * the merge table is a trained-model artifact produced by one job
    * and consumed by many. The table is tiny (nMerges rows) and
    * locally backed (driver-built), so the memo holds no executor
    * storage and nothing needs unpersisting. [[bpeTrainOn]] itself
    * stays uncached: a memo keyed on caller-supplied DataFrames could
    * serve stale merges if the underlying data changed between calls. */
  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def trainedMerges(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame = {
    val n = s.conf.getOption("spark.graft.text.bpeMerges").map(_.toInt).getOrElse(10)
    val k = s"${Dedup.sessionId(s)}:$dir:$n" // unique per session (vs identity hash)
    var df = mergeCache.get(k)
    if (df == null) {
      // build outside the map op (reentrancy/recursive-update rationale
      // as Dedup.cachedRel); a racing duplicate train wastes one job
      val built = bpeTrainOn(Tables.documents(s, dir), "text", n)
      val prev = mergeCache.putIfAbsent(k, built)
      df = if (prev != null) prev else built
    }
    df
  }

  /** The trainer itself, over any docs DataFrame (the GraftOps public
    * entry point delegates here). `onRound` observes (rank,
    * touched-word-count) per learned merge — test/telemetry hook; when
    * absent the count action is skipped entirely (one fewer job per
    * round).
    *
    * `mergeBatch` > 1 learns up to that many merges per DRIVER ROUND
    * while provably preserving the single-merge-per-round result: a
    * round takes the maximal prefix of the ranked pair list whose
    * members are pairwise symbol-disjoint (and whose merged strings
    * are not another member's input symbol — rules that can never
    * cascade or interact), applies them in one pass, and then verifies
    * a safety bound before committing: no pair whose count ROSE under
    * the batch (a new `(x, l+r)` / `(l+r, y)` adjacency, or an
    * existing pair whose symbol coincides with a merged string) may
    * outrank the batch's last member — risen counts are bounded by
    * old + all additions, and batch members' own counts are invariant
    * under each other's merges, so a clean bound means the sequential
    * trainer would have picked exactly this batch in this order. On a
    * violated bound the round falls back to the classic single merge
    * (always safe). This is the standard multi-merge optimization for
    * a 30k-merge production run: the driver schedules ~nMerges/B
    * rounds instead of nMerges, removing the per-round scheduling
    * floor from the critical path without changing the learned
    * table. */
  /** The sequential reference trainer over a collected (symbols, freq)
    * vocabulary — the driver fast path of [[bpeTrainOn]]. Semantics
    * are bit-identical to the distributed rounds: pair counts weighted
    * by word frequency over ALL adjacent positions (overlaps count),
    * argmax ties broken (count desc, left, right) with strings in
    * UTF-8 unsigned-byte order (Spark's string ordering — a UTF-16
    * `compareTo` would diverge on supplementary characters), merges
    * applied leftmost-non-overlapping, `onRound` told how many vocab
    * words each merge touched. */
  private[operators] def driverBpeLoop(entries: Array[(Array[String], Long)],
      nMerges: Int, onRound: Option[(Int, Long) => Unit])
      : Seq[(Int, String, String, Long)] = {
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    var vocab = entries
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      vocab.foreach { case (sym, f) =>
        var i = 0
        while (i + 1 < sym.length) {
          val p = (sym(i), sym(i + 1))
          counts.merge(p, f, _ + _)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var bl: String = null; var br: String = null; var bc = Long.MinValue
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val (l, r) = e.getKey
          val c = e.getValue
          if (c > bc || (c == bc && (utf8Lt(l, bl) ||
              (l == bl && utf8Lt(r, br))))) { bl = l; br = r; bc = c }
        }
        rank += 1
        onRound.foreach { f =>
          var touched = 0L
          vocab.foreach { case (sym, _) =>
            var i = 0; var hit = false
            while (!hit && i + 1 < sym.length) {
              if (sym(i) == bl && sym(i + 1) == br) hit = true
              i += 1
            }
            if (hit) touched += 1
          }
          f(rank, touched)
        }
        out += ((rank, bl, br, bc))
        val merged = bl + br
        vocab = vocab.map { case (sym, f) =>
          var has = false
          var i = 0
          while (!has && i + 1 < sym.length) {
            if (sym(i) == bl && sym(i + 1) == br) has = true
            i += 1
          }
          if (!has) (sym, f)
          else {
            val b = Array.newBuilder[String]
            i = 0
            while (i < sym.length) {
              if (i + 1 < sym.length && sym(i) == bl && sym(i + 1) == br) {
                b += merged; i += 2
              } else { b += sym(i); i += 1 }
            }
            (b.result(), f)
          }
        }
      }
    }
    out.result()
  }

  def bpeTrainOn(docs: org.apache.spark.sql.DataFrame, textCol: String,
                 nMerges: Int,
                 onRound: Option[(Int, Long) => Unit] = None,
                 mergeBatch: Int = 8)
      : org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val MD = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // adjacent-pair counts of a (sym, freq) slice — weighted by word freq
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df
      .filter(size(col("sym")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(sym)-1), " +
          "i -> struct(element_at(sym, i) AS l, element_at(sym, i+1) AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))
    // does the word contain (l, r) adjacently? (size guard first: And
    // short-circuits, so the sequence never runs on 1-symbol words)
    def adjacent(l: String, r: String) =
      size(col("sym")) >= 2 && exists(
        sequence(lit(1), size(col("sym")) - 1),
        i => element_at(col("sym"), i) === lit(l) &&
          element_at(col("sym"), i + lit(1)) === lit(r))
    var vocab = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      // split into single-CODE-POINT symbols: regexp '.' (DOTALL)
      // matches one full code point per piece, so surrogate pairs stay
      // whole — a position-based split ("(?!^)") would cut between
      // surrogate halves, which UTF8String mangles to '?' and the
      // JVM-side encode loop could then never match
      .select(expr("regexp_extract_all(w, '(?s).', 0)").as("sym"), $"freq")
      .persist(MD)
    // SIZE-GATED DRIVER FAST PATH: after the one distributed corpus
    // pass (the word-frequency aggregation above), the training state
    // is the (symbols, freq) vocabulary — Zipf-bounded, ~10⁵ entries
    // for a bench corpus, far below driver budget. Below the gate the
    // merge loop runs driver-side as the published sequential trainer
    // (Sennrich learn_bpe on the word-freq map) — the EXACT semantics
    // the distributed rounds reproduce, with argmax ties broken in
    // UTF-8 byte order to match Spark's string ordering — removing
    // ~7 scheduled stages per merge round from the critical path.
    // Above the gate (a web-scale vocabulary) the distributed
    // delta-recount loop below is unchanged. The corpus itself is
    // never collected, only the aggregated vocabulary.
    val driverSymbolMax = s.conf.getOption("spark.graft.text.bpeDriverSymbols")
      .map(_.toLong).getOrElse(2000000L)
    val sizeRow = vocab.agg(count(lit(1)), sum(size($"sym"))).collect()(0)
    val totalSyms = if (sizeRow.isNullAt(1)) 0L else sizeRow.getLong(1)
    if (totalSyms <= driverSymbolMax) {
      val entries = vocab.collect().map { r =>
        (r.getSeq[String](0).toArray, r.getLong(1))
      }
      vocab.unpersist(false)
      val merges = driverBpeLoop(entries, nMerges, onRound)
      return merges.toSeq.toDF("rank", "left", "right", "pair_freq")
        .orderBy($"rank")
    }
    var paircnt = pairsOf(vocab).persist(MD)
    paircnt.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // Round-k caches must survive TWO rounds, not one: paircnt_{k+1}'s
    // lazy checkpoint materializes inside round k+1's argmax, but
    // vocab_{k+1}'s materializes later still — at round k+1's
    // touched.count() — and it references round k's vocab/merged.
    // Unpersisting round k's relations at the top of round k+1 (the
    // old one-round policy) forced a full corpus recompute of the
    // vocab chain every round; retire round k-1's instead.
    var prevRound: Seq[org.apache.spark.sql.DataFrame] = Nil
    var olderRound: Seq[org.apache.spark.sql.DataFrame] = Nil

    /** Apply one driver round's batch of merges. Returns false (and
      * retires its intermediates) when the multi-merge safety bound is
      * violated — the caller retries with the single top pair, which
      * is always safe. */
    def applyRound(batch: Seq[(String, String, Long)]): Boolean = {
      val adjAny = batch.map { case (l, r, _) => adjacent(l, r) }.reduce(_ || _)
      val touched = vocab.filter(adjAny).persist(MD)
      // one fold applies every batch rule left-to-right; the batch
      // construction guarantees no rule's merged string is another
      // rule's input symbol, so rules never cascade, at most one rule
      // matches at each position, and the fold's result equals
      // applying the rules one after another in rank order
      val applyMerge = aggregate($"sym", array().cast("array<string>"),
        (acc, x) => batch.foldLeft(concat(acc, array(x))) {
          case (els, (l, r, _)) =>
            when(size(acc) > 0 &&
                element_at(acc, -1) === lit(l) && x === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(els)
        })
      val merged = touched.select(applyMerge.as("sym"), $"freq").persist(MD)
      val adds = pairsOf(merged).persist(MD)
      // multi-merge SAFETY BOUND: a pair whose count rose under the
      // batch (new (x, l+r)/(l+r, y) adjacencies — including collisions
      // with a pre-existing symbol spelled l+r) is capped by
      // old + all additions; if even that cap ranks strictly after the
      // batch's LAST member, no risen pair could have outranked ANY
      // member at its sequential step, so the sequential trainer picks
      // exactly this batch in this order. (Batch members' own counts
      // are invariant under each other's merges; non-members rank
      // after the last member by prefix construction and only ever
      // fall, except for risen pairs — which this bound covers.)
      if (batch.size > 1) {
        val (lB, rB, cntB) = batch.last
        val unsafe = !adds
          .join(paircnt.select($"l", $"r", $"cnt".as("old")), Seq("l", "r"), "left")
          .select($"l", $"r", (coalesce($"old", lit(0L)) + $"cnt").as("bound"))
          .filter($"bound" > cntB ||
            ($"bound" === cntB &&
              ($"l" < lB || ($"l" === lB && $"r" <= rB))))
          .isEmpty
        if (unsafe) {
          Seq(touched, merged, adds).foreach(_.unpersist(false))
          return false
        }
      }
      val startRank = merges.size
      batch.foreach { case (l, r, c) => merges += ((merges.size + 1, l, r, c)) }
      // telemetry contract: one (rank, touched-word-count) call per
      // LEARNED MERGE — per-pair adjacency counts come from ONE
      // aggregate job (adjacency to each pair is invariant under the
      // other, symbol-disjoint, merges of the batch, so counting on
      // the pre-batch vocabulary matches the sequential per-round
      // counts exactly)
      onRound.foreach { f =>
        val counts =
          if (batch.size == 1) Seq(touched.count())
          else {
            val row = vocab.select(batch.map { case (l, r, _) =>
              sum(when(adjacent(l, r), 1L).otherwise(0L)) }: _*).collect().head
            batch.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
          }
        counts.zipWithIndex.foreach { case (n, i) => f(startRank + i + 1, n) }
      }
      // exact pair-count delta from the touched slice alone: untouched
      // words contain no batch pair and contribute unchanged pairs
      val delta = pairsOf(touched).select($"l", $"r", (-$"cnt").as("d"))
        .unionByName(adds.select($"l", $"r", $"cnt".as("d")))
        .groupBy($"l", $"r").agg(sum($"d").as("d"))
      // localCheckpoint (eager), not persist: each round references
      // `vocab` from TWO branches (the untouched filter and the
      // merged slice), so a lazy lineage would DOUBLE per round —
      // 2^merges plan nodes by round ~40 OOMs the driver on plan
      // strings alone. Checkpointing truncates the plan to the
      // materialized partitions; round blocks from prior iterations
      // are released by the context cleaner once unreferenced.
      // lazy checkpoints: the plan truncates either way, but the
      // partitions materialize inside the NEXT round's first action
      // (argmax / delta job) instead of spending a dedicated job per
      // relation per round — halves the per-merge job count.
      val nextPair = paircnt.join(delta, Seq("l", "r"), "full_outer")
        .select($"l", $"r",
          (coalesce($"cnt", lit(0L)) + coalesce($"d", lit(0L))).as("cnt"))
        .filter($"cnt" > 0)
        .localCheckpoint(eager = false)
      // coalesce before checkpointing: union CONCATENATES partitions,
      // so without it the vocab partition count doubles per round
      // (2^merges empty tasks by round ~40). coalesce is a no-shuffle
      // merge back to the configured width.
      val loopParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val nextVocab = vocab.filter(!adjAny).unionByName(merged)
        .coalesce(loopParts)
        .localCheckpoint(eager = false)
      // the outgoing vocab/paircnt are ALSO deferred: round 1's are
      // genuinely persisted relations the lazy checkpoints still
      // reference — unpersisting them now would force a full corpus
      // recompute at the next argmax (later rounds' are checkpoints,
      // where unpersist is a harmless no-op)
      prevRound = Seq(touched, merged, adds, paircnt, vocab)
      vocab = nextVocab; paircnt = nextPair
      true
    }

    var done = false
    val B = math.max(1, mergeBatch)
    while (merges.size < nMerges && !done) {
      val want = math.min(B, nMerges - merges.size)
      val top = paircnt
        .orderBy($"cnt".desc, $"l", $"r")
        .limit(want).collect()
        .map(r => (r.getAs[String]("l"), r.getAs[String]("r"),
          r.getAs[Long]("cnt"))).toSeq
      olderRound.foreach(_.unpersist(false))
      olderRound = prevRound
      prevRound = Nil
      if (top.isEmpty) done = true
      else {
        // maximal SAFE PREFIX of the ranked pair list: stop at the
        // first candidate that shares a symbol with an earlier pick,
        // whose input symbol is an earlier pick's merged string, or
        // whose merged string is an earlier pick's input symbol —
        // everything excluded ranks after the whole batch and only
        // ever falls (or is covered by the risen-pair bound)
        val batch = {
          val picked = scala.collection.mutable.ArrayBuffer
            .empty[(String, String, Long)]
          val used = scala.collection.mutable.Set.empty[String]
          val madeSyms = scala.collection.mutable.Set.empty[String]
          var stop = false
          top.foreach { case p @ (l, r, _) =>
            val conflict = used(l) || used(r) || madeSyms(l) ||
              madeSyms(r) || used(l + r)
            if (!stop && !conflict) {
              picked += p; used += l; used += r; madeSyms += (l + r)
            } else stop = true
          }
          picked.toSeq
        }
        if (!applyRound(batch)) {
          val ok = applyRound(batch.take(1))
          assert(ok, "single-merge rounds are unconditionally safe")
        }
      }
    }
    olderRound.foreach(_.unpersist(false))
    prevRound.foreach(_.unpersist(false))
    vocab.unpersist(); paircnt.unpersist()
    merges.toSeq.toDF("rank", "left", "right", "pair_freq")
      .orderBy($"rank")
  }

  /** The tokenizer APPLY step completing [[bpeTrainOn]]'s training
    * half: encode every document with a learned merge table and count
    * its tokens. Standard BPE encode loop (Sennrich apply_bpe / HF
    * tokenizers): per word, split to characters, then repeatedly merge
    * every left-to-right occurrence of the lowest-rank pair present
    * until no learned pair remains.
    *
    * Scale shape: the merge table is vocabulary-of-merges-sized
    * (30k–100k rows — broadcast, like a trained model artifact); the
    * encode itself is genuine per-row imperative logic, so it runs
    * mapPartitions with a size-capped per-partition word→encoding
    * memo — Zipfian text re-encodes the same words constantly, making
    * the common case a hashmap hit instead of a merge loop, while the
    * cap keeps task heap bounded on long-tail vocabularies. Nothing
    * shuffles;
    * the output is a scan-side projection of the corpus. Output:
    * (idCol, n_tokens, tokens). */
  def bpeEncodeOn(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, merges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    val ranks: Map[(String, String), Int] = merges
      .select(col("left"), col("right"), col("rank").cast("int"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val bc = s.sparkContext.broadcast(ranks)
    // id column passes through with its original type (long, string,
    // struct, …) — a Row encoder over the exact output schema avoids
    // forcing callers onto numeric ids.
    val in = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      in.schema.head,
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("tokens",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false))))
    in.mapPartitions { it =>
        val rk = bc.value
        // Size-capped memo: Zipf puts nearly all hits in the few
        // hundred thousand most common words, so a hard cap keeps the
        // hit rate while bounding task heap — an UNcapped memo grows
        // with the partition's full long-tail vocabulary (tens of
        // millions of distinct words at corpus scale) and OOMs the
        // executor. Past the cap, rare words just re-run the merge
        // loop (they were one-shot entries anyway).
        val MemoCap = 200000
        val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
        def encodeWord(w: String): Array[String] = {
          val hit = memo.getOrElse(w, null)
          if (hit != null) hit else {
            val enc = encodeWordUncached(w)
            if (memo.size < MemoCap) memo.update(w, enc)
            enc
          }
        }
        def encodeWordUncached(w: String): Array[String] = {
          // code-point split, matching the trainer's symbol alphabet
          // (a per-char split would strand surrogate halves that can
          // never equal any learned merge symbol)
          var sym: Array[String] = {
            val b = Array.newBuilder[String]
            var i = 0
            while (i < w.length) {
              val n = Character.charCount(w.codePointAt(i))
              b += w.substring(i, i + n); i += n
            }
            b.result()
          }
          var go = sym.length >= 2
          while (go) {
            var best = Int.MaxValue; var bl = ""; var br = ""
            var i = 0
            while (i + 1 < sym.length) {
              val r = rk.getOrElse((sym(i), sym(i + 1)), Int.MaxValue)
              if (r < best) { best = r; bl = sym(i); br = sym(i + 1) }
              i += 1
            }
            if (best == Int.MaxValue) go = false
            else {
              val b = Array.newBuilder[String]
              i = 0
              while (i < sym.length) {
                if (i + 1 < sym.length && sym(i) == bl && sym(i + 1) == br) {
                  b += (bl + br); i += 2
                } else { b += sym(i); i += 1 }
              }
              sym = b.result()
              go = sym.length >= 2
            }
          }
          sym
        }
        it.map { row =>
          val toks = if (row.isNullAt(1)) Seq.empty[String] else row.getSeq[String](1)
          val enc = toks.iterator.filter(_.nonEmpty).flatMap(encodeWord).toSeq
          org.apache.spark.sql.Row(row.get(0), enc.length.toLong, enc)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF(idCol, "n_tokens", "tokens")
  }

  /** t10: BPE tokenization — train 10 merges on the corpus, then encode
    * every document with them and report its learned-token count (the
    * t1 whitespace count refined by a trained subword vocabulary).
    * Iterative + engine-specific ⇒ rows-only driver check; encode
    * semantics pinned in ApiSpec (hand-computed merge application and
    * losslessness). */
  val t10_bpe_encode: Relational.Q = (s, dir) => {
    // Spread: with the trained table at bench depth (10 merges) the
    // encode pass is scan-bound, not memo-bound — re-measured after the
    // driver-side training fast path landed (spread 0.37 s vs unspread
    // 0.55 s at sf0.1; the earlier 6.3→18.8 s reading that justified
    // NOT spreading predates it and was training-dominated). Per-
    // partition memo duplication only re-pays each partition's warm-up
    // over the Zipf head, which the parallelism win covers.
    val docs = Tables.documentsSpread(s, dir)
    val merges = trainedMerges(s, dir)
    bpeEncodeOn(docs, "doc_id", "text", merges)
      .select(col("doc_id"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** t11: bigram language-model quality scoring — the CCNet-style
    * perplexity filter (Wenzek et al. 2020) with the LM trained on the
    * corpus itself: every document is scored by the mean log
    * probability of its adjacent token bigrams under an
    * add-one-smoothed bigram model (fluent, typical text scores high;
    * boilerplate/noise scores low — the standard third axis next to
    * the t2 heuristics and t7 rarity).
    *
    * Scale shape: the LM is a TABLE, never a broadcast (a web-scale
    * bigram table dwarfs driver memory). Counts are one shuffle each
    * over the exploded streams; scoring joins the doc bigram stream to
    * the bigram table on (w1,w2) — the bigram key spreads stopword
    * mass across thousands of contexts — and to the unigram table with
    * the t7 hot-token broadcast split, so "the" never lands on one
    * reducer. Per-bigram log-probs round into DECIMAL(18,6) BEFORE the
    * per-doc sum, making the aggregation exact, associative and
    * order-independent — bit-identical across engines like every §A
    * money sum. */
  val t11_lm_score: Relational.Q = (s, dir) =>
    lmScoreOn(Tables.documentsSpread(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** The t11 core over an arbitrary DataFrame (public twin:
    * `GraftOps.lmScore`). Output: (idCol, n_bigrams, avg_logp). */
  def lmScoreOn(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("__id"),
      tokens(col(textCol)).as("toks"))
    // adjacent-pair stream (named struct fields — stable across engines)
    val bi = toks
      .select(col("__id"), explode(expr(
        """transform(slice(toks, 1, greatest(size(toks)-1, 0)),
          |(x, i) -> struct(x AS w1, element_at(toks, i + 2) AS w2))""".stripMargin))
        .as("p"))
      .select(col("__id"), col("p.w1"), col("p.w2"))
    val big = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val uni = toks.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val vocab = uni.agg(count(lit(1)).as("v_sz"))
    val hotK = docs.sparkSession.conf.getOption("spark.graft.text.hotTokens")
      .map(_.toInt).getOrElse(1024)
    val withCu =
      if (hotK <= 0) bi.join(uni, Seq("w1"))
      else {
        val hot = uni.orderBy(col("cu").desc, col("w1")).limit(hotK)
        val tailU = uni.join(broadcast(hot.select(col("w1"))), Seq("w1"), "left_anti")
        bi.join(broadcast(hot), Seq("w1"))
          .unionByName(bi.join(tailU, Seq("w1")))
      }
    val scored = withCu
      .join(big, Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", expr(
        "CAST(round(ln((cb + 1.0)/(cu + v_sz)), 6) AS DECIMAL(18,6))"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
    docs.select(col(idCol).as("__id"))
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("slp").cast("double") / col("n_bigrams"), 4).as("avg_logp"))
  }

  val t11_sql: String =
    s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
       |bi AS (
       |  SELECT doc_id, p[1] AS w1, p[2] AS w2
       |  FROM (SELECT doc_id,
       |          unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
       |        FROM toks)),
       |b AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
       |u AS (SELECT w1, COUNT(*) AS cu
       |      FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1),
       |v AS (SELECT COUNT(*) AS v_sz FROM u),
       |agg AS (
       |  SELECT bi.doc_id, COUNT(*) AS n_bigrams,
       |    SUM(CAST(round(ln((b.cb + 1.0)/(u.cu + v.v_sz)), 6)
       |        AS DECIMAL(18,6))) AS slp
       |  FROM bi JOIN b USING (w1, w2) JOIN u USING (w1) CROSS JOIN v
       |  GROUP BY 1)
       |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
       |  round(CAST(agg.slp AS DOUBLE)/agg.n_bigrams, 4) AS avg_logp
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** t12: compression-ratio quality signal — deflate the document and
    * band on `compressed/raw` (see [[graft.functions.DeflateLen]]):
    * boilerplate/template spam compresses far below prose, encoded
    * blobs barely compress. Rows-only (zlib output is not defined
    * cross-library, so no DuckDB oracle); behaviorally spec'd in
    * ApiSpec. Scan-side projection: no shuffle, no UDF — the plan is a
    * parquet scan + codegen'd project at any corpus size. */
  val t12_compress_ratio: Relational.Q = (s, dir) =>
    compressionSignalsOn(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** The t12 core over an arbitrary DataFrame (public twin:
    * `GraftOps.compressionSignals`). Output: (id, raw_bytes,
    * deflate_bytes, compress_ratio, kept); `kept` bands the ratio to
    * [0.25, 0.95] — below: near-duplicate boilerplate, above:
    * high-entropy junk. */
  def compressionSignalsOn(docs: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{greatest, lit, octet_length, round}
    docs
      .select(col(idCol), octet_length(col(textCol)).as("raw_bytes"),
        graft.functions.Compress.deflate_len(col(textCol)).as("deflate_bytes"))
      .withColumn("compress_ratio",
        round(col("deflate_bytes").cast("double") /
          greatest(col("raw_bytes").cast("double"), lit(1.0)), 6))
      .withColumn("kept",
        col("compress_ratio") >= 0.25 && col("compress_ratio") <= 0.95)
  }

  /** t13: Unicode text cleaning — NFC canonicalization (the codegen
    * [[graft.functions.NfcNormalize]]; decomposed `e`+U+0301 and
    * composed `é` must hash identically or dedup/fingerprinting
    * silently fragments) + control-character stripping + whitespace
    * collapse, the standard pre-dedup normalization pass (CCNet /
    * RefinedWeb-style pipelines). The synthetic corpus is ASCII, so
    * the query INJECTS decomposed accents and control characters
    * first — both engines apply the same injection, then their own
    * NFC + cleanup, and the full cleaned strings must hash-match.
    * Scan-side projection: no shuffle, no UDF, whole-stage codegen. */
  val t13_unicode_clean: Relational.Q = (s, dir) => {
    import s.implicits._
    val noisy = regexp_replace(
      regexp_replace($"text", "e", "é"), "o", "o")
    graft.api.GraftOps.unicodeClean(
      Tables.documents(s, dir).select($"doc_id", noisy.as("cleaned")),
      "cleaned")
      .withColumn("n_clean", length($"cleaned"))
      .orderBy($"doc_id")
  }

  val t13_sql: String =
    """SELECT doc_id,
      | trim(regexp_replace(regexp_replace(nfc_normalize(
      |   replace(replace(text, 'e', 'e' || chr(769)), 'o', 'o' || chr(7))),
      |   '[\x00-\x1f\x7f]', '', 'g'), ' +', ' ', 'g')) AS cleaned,
      | length(trim(regexp_replace(regexp_replace(nfc_normalize(
      |   replace(replace(text, 'e', 'e' || chr(769)), 'o', 'o' || chr(7))),
      |   '[\x00-\x1f\x7f]', '', 'g'), ' +', ' ', 'g'))) AS n_clean
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Gopher-rule document signals over any (id, text) relation — the
    * published quality-filter rule set (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", Table A1): word-count bounds, mean-word-length band,
    * symbol-to-word ratio (# and ellipses), bullet-line and
    * ellipsis-line fractions, alphabetic-word fraction, and a minimum
    * stop-word hit count (the stop list is language/corpus-tunable —
    * callers pass their own). Pure scan-side projection built from
    * codegen'd higher-order functions: no shuffle, no UDF, so at 100 TB
    * this runs at parquet-scan speed and composes with any downstream
    * filter pushdown. Ratio denominators are guarded with greatest(n,1)
    * so ANSI mode never raises on empty docs. */
  def gopherSignalsOn(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, stopwords: Seq[String]): org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val toks = filter(split(trim(text), "\\s+"), w => w =!= "")
    val lines = split(text, "\n")
    val nWords = size(toks).cast("long")
    val nWordsD = greatest(nWords, lit(1L)).cast("double")
    val wlenSum = aggregate(toks, lit(0L), (acc, w) => acc + length(w))
    val hashes = length(text) - length(replace(text, lit("#")))
    val ellipses = (length(text) - length(replace(text, lit("...")))) / lit(3)
    val nLinesD = greatest(size(lines), lit(1)).cast("double")
    val bulletLines = size(filter(lines, l => l.startsWith("-") || l.startsWith("*")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...")))
    val alphaWords = size(filter(toks, w => w.rlike("[A-Za-z]")))
    val lowered = transform(toks, w => lower(w))
    val stopHits = size(filter(
      array(stopwords.map(lit): _*), sw => array_contains(lowered, sw))).cast("long")
    docs.select(col(idCol),
      nWords.as("n_words"),
      (wlenSum.cast("double") / nWordsD).as("mean_wlen"),
      ((hashes + ellipses.cast("double")) / nWordsD).as("symbol_ratio"),
      (bulletLines.cast("double") / nLinesD).as("bullet_frac"),
      (ellipsisLines.cast("double") / nLinesD).as("ellipsis_frac"),
      (alphaWords.cast("double") / nWordsD).as("alpha_frac"),
      stopHits.as("stop_hits"))
      .withColumn("kept",
        col("n_words").between(50L, 100000L) &&
          col("mean_wlen").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 && col("bullet_frac") <= 0.9 &&
          col("ellipsis_frac") <= 0.3 && col("alpha_frac") >= 0.8 &&
          col("stop_hits") >= 2L)
  }

  /** The corpus-tuned stop list for t14: Gopher's eight English stop
    * words plus the article 'a' (the synthetic vocabulary carries only
    * 'the'/'a' as function words — with the untuned list the hit count
    * saturates at 1 and the rule filters nothing). */
  private[graft] val GopherStops =
    Seq("the", "a", "be", "to", "of", "and", "that", "have", "with")

  /** t14: Gopher quality rules. The synthetic corpus is single-line
    * prose, so the query INJECTS deterministic line structure first —
    * ' row ' starts a bullet line, ' sort ' ends an ellipsis line —
    * identically in both engines (same precedent as t13's accent
    * injection), then computes the published signals + keep verdict. */
  val t14_gopher_quality: Relational.Q = (s, dir) => {
    import s.implicits._
    val injected = replace(replace($"text", lit(" row "), lit("\n- row ")),
      lit(" sort "), lit(" sort...\n"))
    gopherSignalsOn(
      Tables.documents(s, dir).select($"doc_id", injected.as("text")),
      "doc_id", "text", GopherStops)
      .orderBy($"doc_id")
  }

  val t14_sql: String = {
    val inj = "replace(replace(text, ' row ', chr(10) || '- row '), ' sort ', ' sort...' || chr(10))"
    s"""WITH d AS (SELECT doc_id, $inj AS text FROM documents),
       |w AS (SELECT doc_id, text,
       |  list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks,
       |  string_split(text, chr(10)) AS lines FROM d),
       |sig AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_words,
       |  CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE)
       |    / greatest(len(toks), 1) AS mean_wlen,
       |  CAST((length(text) - length(replace(text, '#', '')))
       |     + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
       |    / greatest(len(toks), 1) AS symbol_ratio,
       |  CAST(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%')) AS DOUBLE)
       |    / greatest(len(lines), 1) AS bullet_frac,
       |  CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE)
       |    / greatest(len(lines), 1) AS ellipsis_frac,
       |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
       |    / greatest(len(toks), 1) AS alpha_frac,
       |  CAST(len(list_filter(['the','a','be','to','of','and','that','have','with'],
       |    sw -> list_contains(list_transform(toks, x -> lower(x)), sw))) AS BIGINT) AS stop_hits
       |  FROM w)
       |SELECT *, (n_words BETWEEN 50 AND 100000 AND mean_wlen BETWEEN 3.0 AND 10.0
       |  AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
       |  AND alpha_frac >= 0.8 AND stop_hits >= 2) AS kept
       |FROM sig ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, Relational.Q] = Map(
    "t14_gopher_quality" -> t14_gopher_quality,
    "t13_unicode_clean" -> t13_unicode_clean,
    "t12_compress_ratio" -> t12_compress_ratio,
    "t11_lm_score" -> t11_lm_score,
    "t10_bpe_encode" -> t10_bpe_encode,
    "t9_bpe_train" -> t9_bpe_train,
    "t8_bm25_search" -> t8_bm25_search,
    "t7_unigram_rarity" -> t7_unigram_rarity,
    "t1_token_count" -> t1_token_count,
    "t2_quality_score" -> t2_quality_score,
    "t3_lang_id" -> t3_lang_id,
    "t4_fingerprint" -> t4_fingerprint,
    "t5_repetition" -> t5_repetition,
    "t6_pii_scrub" -> t6_pii_scrub,
  )

  val oracles: Map[String, String] = Map(
    "t14_gopher_quality" -> t14_sql,
    "t13_unicode_clean" -> t13_sql,
    "t11_lm_score" -> t11_sql,
    "t8_bm25_search" -> t8_sql,
    "t7_unigram_rarity" -> t7_sql,
    "t1_token_count" -> t1_sql,
    "t2_quality_score" -> t2_sql,
    "t3_lang_id" -> t3_sql,
    "t5_repetition" -> t5_sql,
    "t6_pii_scrub" -> t6_sql,
  )
}
