package graft
package ledger

import graft.core.Tables
import graft.functions.PortableHash
import graft.operators.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis and corpus curation queries over `documents`. */
private[graft] object TextQueries {
  import Common._

  val all: Seq[QueryDef] = Seq(
    QueryDef("t1_token_count") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    } {
      s"""SELECT doc_id, CAST(len($tokExpr) AS INT) AS n_tokens,
         | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS INT) AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    QueryDef("t2_lang_id") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }(t2LangSql),

    QueryDef("t3_quality_score", headline = true) { (s, d) =>
      TextOps.withQuality(Tables.documents(s, d))
        .select(col("doc_id"), col("quality"))
        .orderBy("doc_id")
    } {
      val en = TextOps.stopwords("en").mkString("\\b(", "|", ")\\b")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS n_chars,
         |    CAST(len($tokExpr) AS DOUBLE) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) AS n_punct,
         |    CAST(len(regexp_extract_all(lower(text), '$en')) AS DOUBLE) AS n_stop
         |  FROM documents)
         |SELECT doc_id, round(
         |  least(n_tokens / 50.0, 1.0) * 0.4 +
         |  least(n_punct / greatest(n_tokens / 10.0, 1.0), 1.0) * 0.2 +
         |  least(n_stop / greatest(n_tokens / 20.0, 1.0), 1.0) * 0.2 +
         |  (CASE WHEN n_chars / greatest(n_tokens, 1.0) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) * 0.2, 4) AS quality
         |FROM m ORDER BY doc_id""".stripMargin
    },

    QueryDef("t4_fingerprint", headline = true) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    } {
      s"""WITH t AS (SELECT doc_id, $tokExpr AS toks FROM documents),
         |e AS (SELECT doc_id, unnest(range(len(toks))) AS i, toks FROM t)
         |SELECT doc_id, CAST(sum((${h("toks[i+1]")} * (2*i+1)) % $P) % $P AS BIGINT) AS fp
         |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    /** Deterministic train/val/test split (stable across engines and
      * appends — no RNG, no partition-order dependence). */
    QueryDef("t6_hash_split") { (s, d) =>
      TextOps.hashSplit(Tables.documents(s, d))
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    } {
      s"""WITH b AS (SELECT doc_id,
         |  CAST(${h("CAST(doc_id AS VARCHAR)")} % 100 AS INT) AS bucket FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin
    },

    /** TF-IDF term weights (epsilon-guarded rounding for the cross-engine
      * float compare, as in q1/j5). */
    QueryDef("t7_tfidf", headline = true) { (s, d) =>
      TextOps.tfidf(Tables.documents(s, d))
        .withColumn("tfidf", round(col("tfidf") + lit(5e-7), 4))
        .orderBy("doc_id", "tok")
    } {
      s"""WITH tok AS (SELECT doc_id, unnest($tokExpr) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
         |SELECT t.doc_id, t.tok, t.tf, d.df,
         |  round(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1) + 5e-7, 4) AS tfidf
         |FROM tf t JOIN dfreq d USING (tok) CROSS JOIN n
         |ORDER BY doc_id, tok""".stripMargin
    },

    /** Per-group heavy hitters: top-3 tokens per language by corpus
      * frequency (vocab inspection / stopword mining). Two map-side-combined
      * aggregates shrink the relation to (lang, token, count) before the
      * per-group rank — the window sorts vocabulary rows, never token
      * occurrences. Deterministic ties: count desc, then token asc. */
    QueryDef("t8_top_terms") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(Dedup.tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      tok
        .withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("n").desc, col("tok"))))
        .filter(col("rank") <= 3)
        .select("lang", "rank", "tok", "n")
        .orderBy("lang", "rank")
    } {
      s"""WITH tok AS (SELECT lang, unnest($tokExpr) AS tok FROM documents),
         |tf AS (SELECT lang, tok, count(*) AS n FROM tok GROUP BY 1, 2),
         |r AS (SELECT lang, tok, n,
         |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rank FROM tf)
         |SELECT lang, rank, tok, n FROM r WHERE rank <= 3
         |ORDER BY lang, rank""".stripMargin
    },

    /** Zipf rank-frequency diagnostic — OLS slope of ln(freq) on ln(rank)
      * over the top-100 vocabulary (a healthy natural corpus fits slope
      * ≈ −1; template/boilerplate corpora flatten it). Logs of integer
      * counts/ranks micro-quantize BEFORE the sums (the bm25 float
      * discipline), so the normal-equation folds are exact integers; the
      * one slope division is sign-safe magnitude division lifted to
      * DECIMAL(38) (the numerator exceeds 2⁶³ by design). Top-100 is
      * TakeOrdered + the bounded single-partition rank (o1 pattern). */
    QueryDef("t33_zipf_slope") { (s, d) =>
      val freq = Tables.documents(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(100)
      val pts = freq
        .withColumn("r", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok").asc)))
        .select(
          floor(log(col("r").cast("double")) * 1e6 + 0.5).cast("long").as("x"),
          floor(log(col("cnt").cast("double")) * 1e6 + 0.5).cast("long").as("y"))
      pts
        .agg(count(lit(1)).as("n_terms"), sum("x").as("__sx"), sum("y").as("__sy"),
          sum(col("x") * col("y")).as("__sxy"), sum(col("x") * col("x")).as("__sxx"))
        .withColumn("__num",
          (col("__sxy").cast("decimal(38,0)") * col("n_terms") -
            col("__sx").cast("decimal(38,0)") * col("__sy")) * lit(1000000L))
        .withColumn("__den",
          col("__sxx").cast("decimal(38,0)") * col("n_terms") -
            col("__sx").cast("decimal(38,0)") * col("__sx"))
        .select(col("n_terms"),
          when(col("__den") === 0, 0L)
            .when(col("__num") < 0, -expr("(-__num) div __den"))
            .otherwise(expr("__num div __den")).as("slope_micro"))
    } {
      // micro-nat logs before the normal-equation folds; HUGEINT lift for
      // the slope division, sign-safe magnitude form
      s"""WITH freq AS (SELECT tok, count(*) AS cnt
         |  FROM (SELECT unnest($tokExpr) AS tok FROM documents) GROUP BY 1
         |  ORDER BY cnt DESC, tok ASC LIMIT 100),
         |pts AS (SELECT CAST(floor(ln(r) * 1e6 + 0.5) AS BIGINT) AS x,
         |    CAST(floor(ln(cnt) * 1e6 + 0.5) AS BIGINT) AS y
         |  FROM (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS r
         |        FROM freq)),
         |a AS (SELECT count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
         |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts),
         |b AS (SELECT n_terms,
         |    (CAST(sxy AS HUGEINT) * n_terms - CAST(sx AS HUGEINT) * sy) * 1000000 AS num,
         |    CAST(sxx AS HUGEINT) * n_terms - CAST(sx AS HUGEINT) * sx AS den FROM a)
         |SELECT n_terms, CAST(CASE WHEN den = 0 THEN 0
         |  WHEN num < 0 THEN -((-num) // den) ELSE num // den END AS BIGINT) AS slope_micro
         |FROM b""".stripMargin
    },

    /** Bigram-LM surprisal (order-aware perplexity filter; t15's unigram
      * model is order-blind). Docs need ≥ 2 tokens to have any bigram. */
    QueryDef("t17_bigram_surprisal") { (s, d) =>
      TextOps.bigramSurprisal(Tables.documents(s, d)).orderBy("doc_id")
    } {
      s"""WITH t AS (SELECT doc_id, $tokExpr AS toks FROM documents),
         |bi AS (SELECT doc_id, unnest(toks[1:-2]) AS w1, unnest(toks[2:-1]) AS w2
         |       FROM t WHERE len(toks) >= 2),
         |bfreq AS (SELECT w1, w2, count(*) AS bc FROM bi GROUP BY 1, 2),
         |pfx AS (SELECT w1, sum(bc) AS pc FROM bfreq GROUP BY 1),
         |voc AS (SELECT count(DISTINCT tok) AS v
         |        FROM (SELECT unnest(toks) AS tok FROM t)),
         |m AS (SELECT doc_id,
         |    CAST(floor(-ln((bc + 1.0) / (pc + v)) * 1e6 + 0.5) AS BIGINT) AS micro
         |  FROM bi JOIN bfreq USING (w1, w2) JOIN pfx USING (w1) CROSS JOIN voc)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(sum(micro) * 1.0 / count(*) / 1e6, 4) AS surprisal
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    /** Inverted index: token → document frequency + numeric-ordered
      * posting list (df ≥ 5 prunes the hapax tail — at 100 TB most of the
      * vocabulary — right at the aggregate). */
    QueryDef("t16_posting_lists", headline = true) { (s, d) =>
      TextOps.invertedIndex(Tables.documents(s, d), minDf = 5)
        .orderBy("tok")
    } {
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents)
         |SELECT tok, count(*) AS df,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         |FROM tok GROUP BY tok HAVING count(*) >= 5 ORDER BY tok""".stripMargin
    },

    /** Composed curation pipeline — the end-to-end shape a training-data
      * user actually runs: quality-score → exact-dedup keepers →
      * deterministic split → train shard. One lazy plan: the scoring map
      * fuses with the scan, dedup is the only shuffle, split is free. */
    QueryDef("c1_curation_pipeline", headline = true) { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = TextOps.withQuality(docs).select(col("doc_id"), col("text"), col("quality"))
      val keepers = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
      TextOps.hashSplit(scored.join(keepers, "doc_id"))
        .filter(col("quality") >= 0.5 && col("split") === "train")
        .select("doc_id", "quality", "bucket")
        .orderBy("doc_id")
    } {
      val en = TextOps.stopwords("en").mkString("\\b(", "|", ")\\b")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS n_chars,
         |    CAST(len($tokExpr) AS DOUBLE) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) AS n_punct,
         |    CAST(len(regexp_extract_all(lower(text), '$en')) AS DOUBLE) AS n_stop
         |  FROM documents),
         |q AS (SELECT doc_id, round(
         |  least(n_tokens / 50.0, 1.0) * 0.4 +
         |  least(n_punct / greatest(n_tokens / 10.0, 1.0), 1.0) * 0.2 +
         |  least(n_stop / greatest(n_tokens / 20.0, 1.0), 1.0) * 0.2 +
         |  (CASE WHEN n_chars / greatest(n_tokens, 1.0) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) * 0.2, 4) AS quality
         |FROM m),
         |k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |b AS (SELECT doc_id,
         |  CAST(${h("CAST(doc_id AS VARCHAR)")} % 100 AS INT) AS bucket FROM documents)
         |SELECT q.doc_id, q.quality, b.bucket
         |FROM q JOIN k USING (doc_id) JOIN b USING (doc_id)
         |WHERE q.quality >= 0.5 AND b.bucket < 90
         |ORDER BY doc_id""".stripMargin
    },

    /** CCNet-style LM perplexity gate — per-doc perplexity under the
      * corpus-trained interpolated unigram/bigram model, keep decided on
      * integer micro-nat sums (no float threshold boundary). See
      * [[graft.operators.TextOps.perplexityFilter]]. */
    QueryDef("t41_perplexity") { (s, d) =>
      TextOps.perplexityFilter(Tables.documents(s, d)).orderBy("doc_id")
    } {
      // gram-hash census min doc_id + join-back; novelty is integer
      // interpolated-LM perplexity: λ = 0.75 so both mixture weights are
      // exact binary doubles; keep compares integer micro-nat sums
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                  x -> len(x) > 0) AS toks FROM documents),
        |uc AS (SELECT tok, count(*) AS c
        |       FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
        |tot AS (SELECT sum(c) AS n, count(*) AS v FROM uc),
        |bi AS (SELECT doc_id, unnest(toks[1:-2]) AS w1, unnest(toks[2:-1]) AS w2
        |       FROM t WHERE len(toks) >= 2),
        |bfreq AS (SELECT w1, w2, count(*) AS bc FROM bi GROUP BY 1, 2),
        |pfx AS (SELECT w1, sum(bc) AS pc FROM bfreq GROUP BY 1),
        |m AS (SELECT doc_id,
        |    CAST(floor(-ln(0.75 * (bc * 1.0 / pc) +
        |                   0.25 * ((c + 1) * 1.0 / (n + v))) * 1e6 + 0.5) AS BIGINT) AS micro
        |  FROM bi JOIN bfreq USING (w1, w2) JOIN pfx USING (w1)
        |  JOIN uc ON uc.tok = bi.w2 CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(exp(sum(micro) * 1.0 / count(*) / 1e6) + 5e-7, 2) AS ppl,
        |  CAST(CASE WHEN sum(micro) < count(*) * 3500000 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    /** N-gram NOVELTY rate per document — the ingest-order diagnostic
      * (how much genuinely new content each arriving doc contributes):
      * a 5-gram is novel for doc d iff NO lower-id doc carries it, i.e.
      * d owns the gram's corpus-wide min doc_id. One gram census keyed
      * on the 32-byte hash (the d8 discipline) + one join-back; the
      * novelty compare is pure integers. */
    QueryDef("t40_novelty") { (s, d) =>
      val grams = graft.core.Caching.shared(
        Tables.documents(s, d)
          .select(col("doc_id"), Dedup.tokens(col("text")).as("__toks"))
          .filter(size(col("__toks")) >= 5)
          .select(col("doc_id"), explode(array_distinct(transform(
            sequence(lit(1), size(col("__toks")) - 4),
            i => PortableHash.hash32(
              concat_ws(" ", slice(col("__toks"), i, lit(5))))))).as("g")))
      val firstSeen = grams.groupBy("g").agg(min("doc_id").as("__first"))
      grams.join(firstSeen, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("doc_id") === col("__first"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_micro", expr("n_novel * 1000000 div n_grams"))
        .orderBy("doc_id")
    } {
      s"""WITH t AS (SELECT doc_id, $tokExpr AS toks FROM documents),
         |g AS (SELECT doc_id, ${h("gram")} AS g FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(
         |      range(1, greatest(len(toks) - 4, 0) + 1),
         |      i -> array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')))) AS gram
         |    FROM t WHERE len(toks) >= 5)),
         |f AS (SELECT g, min(doc_id) AS fd FROM g GROUP BY 1)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN doc_id = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN doc_id = fd THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS novelty_micro
         |FROM g JOIN f USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    /** Cross-SOURCE contamination matrix — pairwise distinct-5-gram
      * overlap between every pair of corpus sources (d9 resolves one
      * benchmark against the corpus; this is the full provenance
      * matrix that finds which feeds share pipelines/mirrors). The gram
      * relation collapses to (source, gram) DISTINCT rows — vocabulary-
      * sized per source — and the pair intersection is one gram-keyed
      * self-join + count; source pair count is |sources|², never docs².
      * Hashes, not raw grams, cross the shuffle (32 bytes/row). */
    QueryDef("t37_cross_contamination") { (s, d) =>
      val grams = graft.core.Caching.shared(
        Tables.documents(s, d)
          .select(col("source"), Dedup.tokens(col("text")).as("__toks"))
          .filter(size(col("__toks")) >= 5)
          .select(col("source"), explode(array_distinct(transform(
            sequence(lit(1), size(col("__toks")) - 4),
            i => PortableHash.hash32(
              concat_ws(" ", slice(col("__toks"), i, lit(5))))))).as("g"))
          .distinct())
      grams.select(col("source").as("src1"), col("g"))
        .join(grams.select(col("source").as("src2"), col("g")), "g")
        .filter(col("src1") < col("src2"))
        .groupBy("src1", "src2").agg(count(lit(1)).as("n_shared"))
        .orderBy("src1", "src2")
    } {
      // distinct hashed 5-grams per source; one gram-keyed self-join
      s"""WITH t AS (SELECT source, $tokExpr AS toks FROM documents),
         |g AS (SELECT DISTINCT source, ${h("gram")} AS g FROM (
         |    SELECT source, unnest(list_distinct(list_transform(
         |      range(1, greatest(len(toks) - 4, 0) + 1),
         |      i -> array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')))) AS gram
         |    FROM t WHERE len(toks) >= 5))
         |SELECT a.source AS src1, b.source AS src2, count(*) AS n_shared
         |FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY src1, src2""".stripMargin
    },

    /** BPE merge-candidate counting — the first round of tokenizer
      * training: corpus-wide counts of adjacent character pairs within
      * words, top-15 by frequency (ties by pair). One explode chain into
      * a map-side-combined count; each additional BPE round is the same
      * query over re-segmented words. */
    QueryDef("t19_bpe_pairs") { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
      val pairs = words.select(explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      pairs.groupBy("pair").agg(count(lit(1)).as("n"))
        // top-15 via orderBy+limit (distributed TakeOrdered), THEN rank
        // the 15 survivors — never a global window over the pair vocab
        .orderBy(col("n").desc, col("pair")).limit(15)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("pair"))))
        .select("rank", "pair", "n")
        .orderBy("rank")
    } {
      s"""WITH words AS (SELECT unnest($tokExpr) AS word FROM documents),
         |idx AS (SELECT word, unnest(generate_series(1, len(word) - 1)) AS i
         |        FROM words WHERE len(word) >= 2),
         |pairs AS (SELECT substr(word, CAST(i AS INT), 2) AS pair FROM idx),
         |c AS (SELECT pair, count(*) AS n FROM pairs GROUP BY pair),
         |r AS (SELECT pair, n,
         |    CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank FROM c)
         |SELECT rank, pair, n FROM r WHERE rank <= 15 ORDER BY rank""".stripMargin
    },

    /** PMI collocations: top-20 bigram associations, micro-nat integer
      * scores, total tiebreak — see [[graft.operators.TextOps.collocations]]. */
    QueryDef("t23_collocations") { (s, d) =>
      graft.operators.TextOps.collocations(Tables.documents(s, d))
    } {
      // PMI argument is the exact rational c12·N²/(M·c1·c2); micro-nat
      // quantization with the +0.5 floor, ranked with a total tiebreak
      s"""WITH tokl AS (SELECT doc_id, $tokExpr AS toks FROM documents),
         |uni AS (SELECT unnest(toks) AS tok FROM tokl),
         |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
         |n AS (SELECT count(*) AS n FROM uni),
         |bi AS (SELECT unnest([struct_pack(w1 := toks[i], w2 := toks[i+1])
         |         FOR i IN range(1, len(toks))]) AS bg
         |       FROM tokl WHERE len(toks) >= 2),
         |bc AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
         |m AS (SELECT CAST(sum(c12) AS BIGINT) AS m FROM bc),
         |pmi AS (
         |  SELECT w1, w2, c12,
         |    CAST(floor(ln(c12 * n.n * n.n * 1.0 / (m.m * u1.c * u2.c)) * 1e6 + 0.5) AS BIGINT) AS pmi_micro
         |  FROM bc, n, m
         |  JOIN uc u1 ON u1.tok = bc.w1
         |  JOIN uc u2 ON u2.tok = bc.w2
         |  WHERE c12 >= 5)
         |SELECT w1, w2, c12, pmi_micro FROM pmi
         |ORDER BY pmi_micro DESC, w1, w2 LIMIT 20""".stripMargin
    },

    /** Mixture resampling toward target domain weights under a global doc
      * budget ([[graft.operators.TextOps.mixtureSample]]): weights
      * src0:5 src1:3 src2:2 src3:1, budget 120. With 25 docs per source at
      * sf0.01 this exercises both regimes — src0/src1 quotas (54/32)
      * exceed availability so the whole domain passes and the shortfall
      * stays visible, src2/src3 quotas (21/10) bind and the salted
      * hash-rank picks the deterministic subset. */
    QueryDef("t24_mixture_sample", headline = true) { (s, d) =>
      TextOps.mixtureSample(Tables.documents(s, d),
          Map("src0" -> 5L, "src1" -> 3L, "src2" -> 2L, "src3" -> 1L),
          budget = 120L)
        .select("doc_id", "source", "mix_rank", "mix_quota")
        .orderBy("doc_id")
    } {
      s"""WITH r AS (SELECT doc_id, source,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY ${h("'mix:' || CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC)
         |    AS mix_rank,
         |  CAST(CASE source WHEN 'src0' THEN 54 WHEN 'src1' THEN 32
         |    WHEN 'src2' THEN 21 WHEN 'src3' THEN 10 ELSE 0 END AS BIGINT)
         |    AS mix_quota
         |  FROM documents)
         |SELECT doc_id, source, mix_rank, mix_quota FROM r
         |WHERE mix_rank <= mix_quota ORDER BY doc_id""".stripMargin
    },

    /** BM25 retrieval: the whole corpus ranked against a fixed 3-term
      * query, top 20. Ranking key = the integer micro-unit score (ties by
      * doc_id), so rank is replayable bit-for-bit; top-k goes through
      * orderBy+limit (distributed TakeOrdered — no single-partition sort
      * of the scored corpus), then the 20 survivors get rank numbers. */
    QueryDef("t20_bm25", headline = true) { (s, d) =>
      val scored = TextOps.bm25(Tables.documents(s, d),
        Seq("spark", "vector", "merge"))
      scored.orderBy(col("score_micro").desc, col("doc_id").asc).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("n_terms").cast("long").as("n_terms"),
          col("bm25"), col("rank"))
        .orderBy("rank")
    } {
      s"""WITH $bm25Ctes,
         |ranked AS (SELECT doc_id, n_terms, round(score_micro / 1e6, 4) AS bm25,
         |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INT) AS rank
         |  FROM bm)
         |SELECT doc_id, n_terms, bm25, rank FROM ranked
         |WHERE rank <= 20 ORDER BY rank""".stripMargin
    },

    /** Incremental BM25: build the statistics table from the even-id half
      * of the corpus, MERGE-fold the odd-id half in as a batch
      * ([[graft.operators.TextOps.bm25MergeStats]], the x13 machinery),
      * then score with the MAINTAINED table. The oracle is the FULL
      * recompute — hash equality proves batch-maintained stats ≡ rebuild,
      * exactly (integer df/dl_total/n_docs; avgdl derived by one exact
      * division on both sides). */
    QueryDef("t22_bm25_incremental", headline = true) { (s, d) =>
      val docs = Tables.documents(s, d)
      // the maintained table is STORED state in the real shape — pin it so
      // the two broadcast consumers (corpus row, query-term df) read the
      // materialized table instead of re-running the merge lineage each
      // time. (The PRE-merge table's two consumers inside bm25MergeStats
      // re-read the pinned tf relation, so pinning it too only adds a
      // materialization barrier — measured, not guessed.)
      val stats = graft.core.Caching.shared(graft.operators.TextOps.bm25MergeStats(
        graft.operators.TextOps.bm25Stats(docs.filter(col("doc_id") % 2 === 0)),
        docs.filter(col("doc_id") % 2 =!= 0)))
      val scored = graft.operators.TextOps.bm25WithStats(docs, stats,
        Seq("spark", "vector", "merge"))
      scored.orderBy(col("score_micro").desc, col("doc_id").asc).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("n_terms").cast("long").as("n_terms"),
          col("bm25"), col("rank"))
        .orderBy("rank")
    } {
      // full recompute — equality with the Spark side's batch-maintained
      // stats table IS the t22 claim. avgdl via one exact integer-sum
      // division (not avg()), matching the maintained dl_total / n_docs.
      s"""WITH tok AS (SELECT doc_id, unnest($tokExpr) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |bm AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |    sum(CAST(floor(ln(1.0 + (s.n_docs - d2.df + 0.5) / (d2.df + 0.5))
         |        * t.tf * (1.2 + 1.0)
         |        / (t.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.dl) / s.avgdl))
         |        * 1e6 + 0.5) AS BIGINT)) AS score_micro
         |  FROM tf t JOIN dfq d2 USING (tok) JOIN dl l USING (doc_id) CROSS JOIN stats s
         |  WHERE t.tok IN ('spark', 'vector', 'merge')
         |  GROUP BY 1),
         |ranked AS (SELECT doc_id, n_terms, round(score_micro / 1e6, 4) AS bm25,
         |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INT) AS rank
         |  FROM bm)
         |SELECT doc_id, n_terms, bm25, rank FROM ranked
         |WHERE rank <= 20 ORDER BY rank""".stripMargin
    },

    /** Count-Min sketch over the token stream + point queries for the 30
      * most frequent terms, est vs exact side by side (the e11 metrology
      * discipline: the error column itself is part of the gate —
      * overcount is provably ≥ 0, never under). Width 4×8 is sized to the
      * synthetic corpus's 31-term vocabulary so collisions — the thing
      * the min-over-rows exists for — actually occur; production widths
      * scale the same plan, shuffling ≤ depth·width cells per partition
      * regardless of vocabulary size. See
      * [[graft.operators.Sketch.countMin]]. */
    QueryDef("t29_count_min", headline = true) { (s, d) =>
      val toks = graft.core.Caching.shared(
        Tables.documents(s, d).select(explode(Dedup.tokens(col("text"))).as("term")))
      val sketch = graft.operators.Sketch.countMin(toks, "term", depth = 4, width = 8)
      val probes = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(30)
      graft.operators.Sketch.countMinLookup(sketch, probes, "term", depth = 4, width = 8)
        .withColumn("overcount", col("est") - col("cnt"))
        .orderBy(col("cnt").desc, col("term").asc)
    } {
      // the whole sketch replays: same md5-affine hash rows, same cells,
      // same min-over-rows estimate; overcount ≥ 0 by construction
      val params = (0 until 4).map { i =>
        val (a, b) = PortableHash.perm(i); s"($i, $a, $b)"
      }.mkString(", ")
      s"""WITH tok AS (SELECT unnest($tokExpr) AS term FROM documents),
         |hh AS (SELECT term, ${h("term")} AS hv FROM tok),
         |p AS (SELECT * FROM (VALUES $params) v(i, a, b)),
         |sk AS (SELECT p.i AS "row", ((hh.hv * p.a + p.b) % $P) % 8 AS cell,
         |         count(*) AS ccnt
         |       FROM hh, p GROUP BY 1, 2),
         |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
         |probe AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 30),
         |pc AS (SELECT probe.term, probe.cnt, p.i AS "row",
         |         ((${h("probe.term")} * p.a + p.b) % $P) % 8 AS cell
         |       FROM probe, p),
         |est AS (SELECT pc.term, pc.cnt, min(sk.ccnt) AS est
         |        FROM pc JOIN sk USING ("row", cell) GROUP BY 1, 2)
         |SELECT term, cnt, est, est - cnt AS overcount
         |FROM est ORDER BY cnt DESC, term""".stripMargin
    },

    /** Sparse VSM retrieval — rank the corpus against doc 0's TF-IDF
      * vector by integer sparse dot product (the DSIR
      * similarity-to-seed-corpus shape). See
      * [[graft.operators.TextOps.sparseRetrieval]]. */
    QueryDef("t30_sparse_retrieval") { (s, d) =>
      TextOps.sparseRetrieval(Tables.documents(s, d), queryDocId = 0L, k = 20)
        .orderBy("rank")
    } {
      // integer sparse dot product over shared terms; idf quantized
      // per-term before any sum (the t20 discipline); ln = natural log
      s"""WITH tok AS (SELECT doc_id, unnest($tokExpr) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |w AS (SELECT tf.doc_id, tf.tok,
         |    tf.tf * CAST(floor((ln((nn.n_docs + 1) * 1.0 / (dfq.df + 1)) + 1)
         |      * 1e6 + 0.5) AS BIGINT) AS w
         |  FROM tf JOIN dfq USING (tok), nn),
         |qv AS (SELECT tok, w AS wq FROM w WHERE doc_id = 0),
         |sc AS (SELECT w.doc_id, CAST(sum(w.w * qv.wq) AS BIGINT) AS score_micro2
         |  FROM w JOIN qv USING (tok) WHERE w.doc_id <> 0 GROUP BY 1)
         |SELECT doc_id, score_micro2,
         |  CAST(row_number() OVER (ORDER BY score_micro2 DESC, doc_id) AS INT) AS rank
         |FROM sc ORDER BY rank LIMIT 20""".stripMargin
    },

    /** Per-source duplication report — the corpus-health summary a curation
      * run publishes: doc counts, distinct-text counts (distinct on the
      * 32-byte digest, never the text), and the dup rate. */
    QueryDef("t18_dedup_report") { (s, d) =>
      Tables.documents(s, d)
        // digest is internal (only countDistinct sees it): 16-byte binary
        // halves the distinct-state bytes vs the 32-hex string
        .select(col("source"), unhex(md5(col("text"))).as("digest"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct("digest").as("n_unique"))
        .withColumn("dup_rate",
          round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 4))
        .orderBy("source")
    } {
      """SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        |  round(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 4) AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },

    /** Gopher-style repetition quality signals. */
    QueryDef("t9_rep_signals") { (s, d) =>
      TextOps.repetitionSignals(Tables.documents(s, d)).orderBy("doc_id")
    } {
      s"""WITH t AS (SELECT doc_id, $tokExpr AS toks FROM documents),
         |ts AS (SELECT doc_id, len(toks) AS n_tokens,
         |    round(len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1), 4) AS uniq_token_ratio
         |  FROM t),
         |bg AS (SELECT doc_id, ${h("bgs")} AS h FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)])) AS bgs
         |    FROM t WHERE len(toks) >= 2)),
         |pb AS (SELECT doc_id, h, count(*) AS n FROM bg GROUP BY 1, 2),
         |st AS (SELECT doc_id, sum(n) AS nb, count(*) AS nd, max(n) AS tn FROM pb GROUP BY 1)
         |SELECT ts.doc_id, ts.n_tokens, ts.uniq_token_ratio,
         |  round((st.nb - st.nd) * 1.0 / st.nb, 4) AS dup_bigram_frac,
         |  round(st.tn * 1.0 / st.nb, 4) AS top_bigram_frac
         |FROM ts LEFT JOIN st USING (doc_id) ORDER BY doc_id""".stripMargin
    },

    /** Span-level dedup SCRUB — the removal step d8 only measures:
      * corpus-duplicated 16-token spans are deleted from every carrier,
      * and the gate hashes the REWRITTEN text itself (md5 per doc), not
      * just counts. See [[graft.operators.Dedup.scrubDupSpans]]. */
    QueryDef("t25_span_scrub", headline = true) { (s, d) =>
      graft.operators.Dedup.scrubDupSpans(Tables.documents(s, d), window = 16)
        .orderBy("doc_id")
    } {
      // the scrub replays span-by-span: aligned 16-token spans, md5 census
      // key, spans in >1 doc dropped everywhere, kept spans re-joined in
      // position order and the rewrite itself hashed
      s"""WITH t AS (SELECT doc_id, $tokExpr AS toks FROM documents),
         |t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
         |s AS (SELECT doc_id, unnest(range(0, len(toks), 16)) AS st, toks FROM t2),
         |sp AS (SELECT doc_id, CAST(st // 16 AS INT) AS pos,
         |  array_to_string(list_slice(toks, st + 1, st + 16), ' ') AS span,
         |  least(CAST(16 AS BIGINT), len(toks) - st) AS span_len FROM s),
         |dg AS (SELECT doc_id, pos, span, span_len, md5(span) AS dig FROM sp),
         |fr AS (SELECT dig, count(DISTINCT doc_id) AS nd FROM dg GROUP BY 1)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN nd = 1 THEN span_len ELSE 0 END) AS BIGINT) AS n_tokens_kept,
         |  md5(coalesce(string_agg(CASE WHEN nd = 1 THEN span END, ' ' ORDER BY pos), '')) AS scrubbed_md5
         |FROM dg JOIN fr USING (dig) GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    /** Corpus heavy hitters — terms with frequency ≥ 1/64 of all tokens.
      * Two-pass sketch discipline: a Misra-Gries summary (128 counters,
      * mergeable across partitions) nominates candidates WITHOUT a
      * vocabulary-sized shuffle, then one exact count over the candidate
      * set alone confirms — the exact output the oracle replays with a
      * plain GROUP BY. See [[graft.operators.TextOps.heavyHitters]]. */
    QueryDef("t26_heavy_hitters") { (s, d) =>
      TextOps.heavyHitters(Tables.documents(s, d), support = 64)
    } {
      s"""WITH tok AS (SELECT unnest($tokExpr) AS term FROM documents),
         |tot AS (SELECT count(*) AS n FROM tok),
         |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1)
         |SELECT term, cnt,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS INT) AS rank
         |FROM c, tot WHERE cnt * 64 >= n ORDER BY rank""".stripMargin
    },

    /** Gopher-style hard rule flags — the per-rule boolean table a
      * curation pipeline audits before gating (distinct from t3's blended
      * score: rules are individually actionable). Integer comparisons
      * only, so every flag replays exactly. See
      * [[graft.operators.TextOps.gopherRules]]. */
    QueryDef("t27_quality_rules") { (s, d) =>
      TextOps.gopherRules(Tables.documents(s, d)).orderBy("doc_id")
    } {
      val en = TextOps.stopwords("en").mkString("\\b(", "|", ")\\b")
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len($tokExpr) AS BIGINT) AS ntok,
         |  CAST(length(text) AS BIGINT) AS nchars,
         |  CAST(len(regexp_extract_all(lower(text), '$en')) AS BIGINT) AS nstop,
         |  CAST(len(regexp_extract_all(text, '[#@<>\\[\\]{}|\\\\]')) AS BIGINT) AS nsym
         |FROM documents)
         |SELECT doc_id,
         |  CAST(ntok >= 50 AND ntok <= 100000 AS INT) AS ok_n_tokens,
         |  CAST(nchars >= ntok * 3 AND nchars <= ntok * 10 AS INT) AS ok_word_len,
         |  CAST(nsym * 10 <= ntok AS INT) AS ok_symbols,
         |  CAST(nstop >= 2 AS INT) AS ok_stopwords,
         |  CAST((ntok >= 50 AND ntok <= 100000) AND (nchars >= ntok * 3 AND nchars <= ntok * 10)
         |    AND nsym * 10 <= ntok AND nstop >= 2 AS INT) AS keep
         |FROM c ORDER BY doc_id""".stripMargin
    },

    /** Canonical normalization pass (C4/CCNet shape): the gate hashes the
      * normalized text itself, proving the rewrite. Seeded with mixed
      * case + punctuation + whitespace runs so the pass has real work on
      * the synthetic corpus (both engines build the identical seed). See
      * [[graft.operators.TextOps.normalizeText]]. */
    QueryDef("t28_normalize") { (s, d) =>
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        concat(upper(substring(col("text"), 1, 10)), lit("  ... "),
          substring(col("text"), 11, 1000000), lit("!?  [END]")).as("text"))
      seeded
        .select(col("doc_id"), TextOps.normalizeText(col("text")).as("norm"))
        .select(col("doc_id"), length(col("norm")).cast("long").as("n_chars"),
          md5(col("norm")).as("norm_md5"))
        .orderBy("doc_id")
    } {
      // same seed construction, same regexp chain: lowercase → strip
      // non-[a-z0-9 ] → collapse spaces → trim; hash proves the rewrite
      """WITH s AS (SELECT doc_id,
        |    upper(substr(text, 1, 10)) || '  ... ' || substr(text, 11) || '!?  [END]' AS text
        |  FROM documents),
        |n AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |      ' +', ' ', 'g')) AS norm
        |  FROM s)
        |SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars, md5(norm) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin
    },

    /** Deterministic per-language stratified sample (data-mix rebalance):
      * keep 50% of en, 30% of es/fr/de, 10% of anything else. */
    QueryDef("t10_stratified_sample") { (s, d) =>
      TextOps.stratifiedSample(Tables.documents(s, d),
          Map("en" -> 50, "es" -> 30, "fr" -> 30, "de" -> 30), defaultPct = 10)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    } {
      s"""WITH b AS (SELECT doc_id, lang,
         |  CAST(${h("'strat:' || CAST(doc_id AS VARCHAR)")} % 100 AS INT) AS bucket
         |  FROM documents)
         |SELECT doc_id, lang, bucket FROM b
         |WHERE bucket < (CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 30
         |  WHEN 'fr' THEN 30 WHEN 'de' THEN 30 ELSE 10 END)
         |ORDER BY doc_id""".stripMargin
    },

    /** PII detect + scrub. The synthetic corpus carries no PII, so each doc
      * is deterministically seeded with one email, one IPv4, and one
      * phone-shaped number first (both engines build the same string); the
      * hash compares counts AND the md5 of the redacted text, proving the
      * replacement itself is identical without shipping full documents
      * through the gate. */
    QueryDef("t11_pii_scrub") { (s, d) =>
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact u"), col("doc_id"), lit("@example.com via 10."),
          pmod(col("doc_id"), lit(200)), lit(".0.1 ext 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
      TextOps.piiSignals(seeded)
        .withColumn("redacted_md5", md5(TextOps.scrubPii(col("text"))))
        .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted_md5")
        .orderBy("doc_id")
    } {
      import TextOps.{emailRe, ipRe, phoneRe}
      s"""WITH seeded AS (SELECT doc_id,
         |    text || ' contact u' || doc_id || '@example.com via 10.' ||
         |    (doc_id % 200) || '.0.1 ext 555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$emailRe')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$ipRe')) AS INT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '$phoneRe')) AS INT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$emailRe', '[EMAIL]', 'g'), '$ipRe', '[IP]', 'g'),
         |    '$phoneRe', '[PHONE]', 'g')) AS redacted_md5
         |FROM seeded ORDER BY doc_id""".stripMargin
    },

    /** C4-style per-domain quality/dedup profile (source stands in for the
      * registrable domain the real pipeline extracts from the url). */
    QueryDef("t12_domain_stats") { (s, d) =>
      TextOps.domainStats(Tables.documents(s, d)).orderBy("domain")
    } {
      val en = TextOps.stopwords("en").mkString("\\b(", "|", ")\\b")
      s"""WITH m AS (
         |  SELECT source AS domain, md5(text) AS digest,
         |    CAST(length(text) AS DOUBLE) AS n_chars,
         |    CAST(len($tokExpr) AS DOUBLE) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) AS n_punct,
         |    CAST(len(regexp_extract_all(lower(text), '$en')) AS DOUBLE) AS n_stop
         |  FROM documents),
         |q AS (SELECT domain, digest,
         |  CAST(round(
         |    least(n_tokens / 50.0, 1.0) * 0.4 +
         |    least(n_punct / greatest(n_tokens / 10.0, 1.0), 1.0) * 0.2 +
         |    least(n_stop / greatest(n_tokens / 20.0, 1.0), 1.0) * 0.2 +
         |    (CASE WHEN n_chars / greatest(n_tokens, 1.0) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) * 0.2,
         |    4) AS DECIMAL(18,4)) AS q,
         |  CAST(n_tokens AS BIGINT) AS nt FROM m),
         |c AS (SELECT digest, count(*) AS nc FROM q GROUP BY 1)
         |SELECT domain, count(*) AS n_docs,
         |  round(CAST(sum(q) AS DOUBLE) / count(*), 4) AS mean_quality,
         |  round(CAST(sum(nt) AS DOUBLE) / count(*), 2) AS mean_tokens,
         |  round(sum(CASE WHEN nc > 1 THEN 1.0 ELSE 0.0 END) / count(*), 4) AS dup_frac
         |FROM q JOIN c USING (digest)
         |GROUP BY domain ORDER BY domain""".stripMargin
    },

    /** Concat-then-chunk packing of each source shard into 512-token
      * training sequences. */
    QueryDef("t13_pack_sequences") { (s, d) =>
      TextOps.packSequences(Tables.documents(s, d), seqLen = 512)
        .orderBy("doc_id")
    } {
      s"""WITH t AS (SELECT doc_id, source AS shard,
         |    CAST(len($tokExpr) AS INT) AS n_tokens FROM documents),
         |o AS (SELECT doc_id, shard, n_tokens,
         |    CAST(coalesce(sum(n_tokens + 1) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
         |  FROM t)
         |SELECT doc_id, shard, n_tokens, tok_offset,
         |  CAST(floor(tok_offset / 512.0) AS BIGINT) AS first_seq,
         |  CAST(floor((tok_offset + n_tokens) / 512.0) AS BIGINT) AS last_seq,
         |  CAST(floor((tok_offset + n_tokens) / 512.0) AS BIGINT)
         |    - CAST(floor(tok_offset / 512.0) AS BIGINT) + 1 AS n_seqs
         |FROM o ORDER BY doc_id""".stripMargin
    },

    /** Quality-based corpus pruning: keep the top-30% quality documents per
      * language. The keep count is the exact rational max(1, 3n/10) — no
      * float threshold to flip between engines — and ties break on doc_id. */
    QueryDef("c2_quality_gate", headline = true) { (s, d) =>
      TextOps.qualityGate(Tables.documents(s, d), keepNum = 3, keepDen = 10)
        .orderBy("doc_id")
    } {
      val en = TextOps.stopwords("en").mkString("\\b(", "|", ")\\b")
      s"""WITH m AS (
         |  SELECT doc_id, lang,
         |    CAST(length(text) AS DOUBLE) AS n_chars,
         |    CAST(len($tokExpr) AS DOUBLE) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) AS n_punct,
         |    CAST(len(regexp_extract_all(lower(text), '$en')) AS DOUBLE) AS n_stop
         |  FROM documents),
         |q AS (SELECT doc_id, lang, round(
         |  least(n_tokens / 50.0, 1.0) * 0.4 +
         |  least(n_punct / greatest(n_tokens / 10.0, 1.0), 1.0) * 0.2 +
         |  least(n_stop / greatest(n_tokens / 20.0, 1.0), 1.0) * 0.2 +
         |  (CASE WHEN n_chars / greatest(n_tokens, 1.0) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) * 0.2, 4) AS quality
         | FROM m),
         |r AS (SELECT doc_id, lang, quality,
         |  row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rk,
         |  count(*) OVER (PARTITION BY lang) AS n FROM q)
         |SELECT doc_id, lang, quality FROM r
         |WHERE rk <= greatest(1, (n * 3) // 10) ORDER BY doc_id""".stripMargin
    },

    /** Cluster-balanced diversity sampling — the curation step between
      * dedup and training: embed-cluster the corpus (e7's fixed-centroid
      * assignment, a pure expression over the broadcast codebook), join
      * per-doc quality (t3), keep each cluster's top-25 by quality. The
      * semantic-cluster quota prevents the quality cut from collapsing
      * the corpus onto one dominant mode; one window rank per cluster is
      * the only wide op after the doc-keyed join. */
    QueryDef("c3_diversity_sample") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 260)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => ((r.getLong(0) / 37).toInt, r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val assigned = emb.select(col("vec_id"),
        Similarity.nearestCentroid(col("embedding").cast("array<double>"), cents)
          .as("cid"))
      val quality = TextOps.withQuality(Tables.documents(s, d))
        .select(col("doc_id"), col("quality"))
      val w = Window.partitionBy(col("cid"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      quality.join(assigned, col("vec_id") === col("doc_id"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 25)
        .select(col("doc_id"), col("cid"), col("quality"), col("rank"))
        .orderBy("cid", "rank")
    } {
      val en = TextOps.stopwords("en").mkString("\\b(", "|", ")\\b")
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cent AS (SELECT CAST(vec_id // 37 AS INT) AS cid, v AS c FROM emb
         |         WHERE vec_id % 37 = 0 AND vec_id < 260),
         |dist AS (SELECT e.vec_id, cent.cid,
         |    list_sum(list_transform(list_zip(e.v, cent.c),
         |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
         |  FROM emb e CROSS JOIN cent),
         |assigned AS (SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM dist)
         |  WHERE rn = 1),
         |m AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS n_chars,
         |    CAST(len($tokExpr) AS DOUBLE) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) AS n_punct,
         |    CAST(len(regexp_extract_all(lower(text), '$en')) AS DOUBLE) AS n_stop
         |  FROM documents),
         |q AS (SELECT doc_id, round(
         |    least(n_tokens / 50.0, 1.0) * 0.4 +
         |    least(n_punct / greatest(n_tokens / 10.0, 1.0), 1.0) * 0.2 +
         |    least(n_stop / greatest(n_tokens / 20.0, 1.0), 1.0) * 0.2 +
         |    (CASE WHEN n_chars / greatest(n_tokens, 1.0) BETWEEN 3 AND 10
         |      THEN 1.0 ELSE 0.5 END) * 0.2, 4) AS quality
         |  FROM m),
         |r AS (SELECT doc_id, cid, quality,
         |    CAST(row_number() OVER (PARTITION BY cid
         |      ORDER BY quality DESC, doc_id) AS INT) AS rank
         |  FROM q JOIN assigned ON vec_id = doc_id)
         |SELECT doc_id, cid, quality, rank FROM r WHERE rank <= 25
         |ORDER BY cid, rank""".stripMargin
    },

    /** Per-source token-budget downsampling: greedy keep in portable-hash
      * order until each source reaches its 800-token allocation. */
    QueryDef("t14_token_budget") { (s, d) =>
      TextOps.tokenBudgetSample(Tables.documents(s, d), budget = 800L)
        .orderBy("doc_id")
    } {
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len($tokExpr) AS BIGINT) AS n_tokens,
         |  ${h("CAST(doc_id AS VARCHAR)")} AS hh
         | FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY hh ASC, doc_id ASC
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         | FROM t)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin
    },

    /** Corpus-unigram surprisal score (CCNet-style LM quality proxy);
      * per-token micro-nat quantization keeps the aggregate exact. */
    QueryDef("t15_unigram_surprisal") { (s, d) =>
      TextOps.unigramSurprisal(Tables.documents(s, d)).orderBy("doc_id")
    } {
      s"""WITH tok AS (SELECT doc_id, unnest($tokExpr) AS tok FROM documents),
         |freq AS (SELECT tok, count(*) AS tf FROM tok GROUP BY 1),
         |tot AS (SELECT sum(tf) AS total FROM freq),
         |m AS (SELECT doc_id,
         |    CAST(floor(-ln(tf * 1.0 / total) * 1e6 + 0.5) AS BIGINT) AS micro
         |  FROM tok JOIN freq USING (tok) CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(sum(micro) * 1.0 / count(*) / 1e6, 4) AS surprisal
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    /** Flesch-style readability score — the classic text-quality feature
      * (reading-ease gates in curation): 206.835 − 1.015·(words/sent) −
      * 84.6·(syll/words), with sentences = [.!?]+ runs (min 1), words =
      * whitespace tokens, syllables = [aeiouy]+ vowel groups per word
      * (min 1/word — the standard heuristic). All three counts are exact
      * integers from regex extraction; the formula evaluates once in
      * IEEE doubles and micro-quantizes (the bm25 discipline). Fused
      * into the scan — no shuffle before the output sort. */
    QueryDef("t39_readability") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          greatest(size(filter(split(lower(col("text")), "[.!?]+"),
            t => length(trim(t)) > 0)), lit(1)).cast("long").as("n_sent"),
          Dedup.tokens(col("text")).as("__toks"))
        .withColumn("n_words", greatest(size(col("__toks")), lit(1)).cast("long"))
        .withColumn("n_syll",
          aggregate(transform(col("__toks"),
            t => greatest(size(filter(split(t, "[^aeiouy]+"),
              g => length(g) > 0)), lit(1)).cast("long")),
            lit(0L), (acc, x) => acc + x))
        .select(col("doc_id"), col("n_sent"), col("n_words"), col("n_syll"),
          floor((lit(206.835) -
            lit(1.015) * col("n_words") / col("n_sent") -
            lit(84.6) * col("n_syll") / col("n_words")) * 1e6 + 0.5)
            .cast("long").as("flesch_micro"))
        .orderBy("doc_id")
    } {
      // exact integer sentence/word/vowel-group counts; one IEEE
      // evaluation of the Flesch formula, micro-quantized
      s"""WITH t AS (SELECT doc_id,
         |    greatest(len(list_filter(string_split_regex(lower(text), '[.!?]+'),
         |      x -> len(trim(x)) > 0)), 1) AS n_sent,
         |    $tokExpr AS toks
         |  FROM documents),
         |c AS (SELECT doc_id, CAST(n_sent AS BIGINT) AS n_sent,
         |    CAST(greatest(len(toks), 1) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(toks,
         |      w -> greatest(len(list_filter(string_split_regex(w, '[^aeiouy]+'),
         |        g -> len(g) > 0)), 1))), 0) AS BIGINT) AS n_syll
         |  FROM t)
         |SELECT doc_id, n_sent, n_words, n_syll,
         |  CAST(floor((206.835 - 1.015 * n_words / n_sent
         |    - 84.6 * n_syll / n_words) * 1e6 + 0.5) AS BIGINT) AS flesch_micro
         |FROM c ORDER BY doc_id""".stripMargin
    },

    /** Per-source token-distribution Shannon entropy — the vocabulary-
      * diversity diagnostic next to t33's Zipf slope (low entropy flags
      * template/boilerplate sources before they flood a mixture).
      * H = ln N − (Σ c·ln c)/N with per-term ln c micro-quantized
      * BEFORE the weighted sum (exact integer folds); the one division
      * truncates identically on both engines. One (source, token)
      * aggregate — map-side combined — then a per-source fold. */
    QueryDef("t35_token_entropy", headline = true) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n"), count(lit(1)).as("vocab"),
          sum(col("c") *
            floor(log(col("c").cast("double")) * 1e6 + 0.5).cast("long")).as("__s"))
        .select(col("source"), col("n"), col("vocab"),
          (floor(log(col("n").cast("double")) * 1e6 + 0.5).cast("long") -
            expr("__s div n")).as("entropy_micro"))
        .orderBy("source")
    } {
      // H = ln N − (Σ c·ln c)/N; per-term micro-nat logs before the fold
      s"""WITH cnt AS (SELECT source, tok, count(*) AS c FROM (
         |    SELECT source, unnest($tokExpr) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |f AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |    count(*) AS vocab,
         |    CAST(sum(c * CAST(floor(ln(c) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s
         |  FROM cnt GROUP BY 1)
         |SELECT source, n, vocab,
         |  CAST(CAST(floor(ln(n) * 1e6 + 0.5) AS BIGINT) - s // n AS BIGINT)
         |    AS entropy_micro
         |FROM f ORDER BY source""".stripMargin
    },

    /** DSIR importance weights against the src0 slice as the target
      * domain — the reweighting score that tilts a general corpus toward
      * a target distribution before sampling. See
      * [[graft.operators.TextOps.importanceWeights]]. */
    QueryDef("t34_importance_weights", headline = true) { (s, d) =>
      TextOps.importanceWeights(Tables.documents(s, d),
        col("source") === "src0").orderBy("doc_id")
    } {
      // add-one-smoothed target/corpus unigram models over the shared
      // vocabulary; per-token log-ratio micro-quantized before the sum
      s"""WITH tok AS (SELECT doc_id, source = 'src0' AS tgt,
         |    unnest($tokExpr) AS tok FROM documents),
         |freq AS (SELECT tok, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         |    count(*) AS call FROM tok GROUP BY 1),
         |tot AS (SELECT sum(ct) AS nt, sum(call) AS nc, count(*) AS v FROM freq),
         |m AS (SELECT doc_id,
         |    CAST(floor((ln((ct + 1) * 1.0 / (nt + v))
         |      - ln((call + 1) * 1.0 / (nc + v))) * 1e6 + 0.5) AS BIGINT) AS micro
         |  FROM tok JOIN freq USING (tok) CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(micro) AS BIGINT) AS logweight_micro
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    /** Overlapping token-window chunking (context packing): windows of 32
      * tokens every 24 — the explode-shaped op a pretraining pipeline runs
      * over every document. */
    QueryDef("t5_chunk_windows") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          filter(split(col("text"), "\\s+"), t => length(t) > 0).as("toks"))
        .select(col("doc_id"),
          posexplode(TextOps.chunkTexts(col("toks"), window = 32, stride = 24)))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          col("col").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    } {
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks FROM documents),
        |s AS (SELECT doc_id, unnest(range(0, greatest(len(toks), 1), 24)) AS st, toks FROM t)
        |SELECT doc_id, CAST(st // 24 AS INT) AS chunk_idx,
        |  array_to_string(list_slice(toks, st + 1, st + 32), ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin
    },

    /** JSON property extraction over the events payload column —
      * `get_json_object` fused into the scan (no UDF, no parse step
      * materialized), then an ordinary aggregate. */
    QueryDef("t21_json_extract") { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k") + lit(5e-7), 4).as("avg_k"))
        .orderBy("event_type")
    } {
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) + 5e-7, 4) AS avg_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    },

    /** Hashing-trick featurization into 64 slots — see
      * [[graft.operators.TextOps.featureHash]]. */
    QueryDef("t32_feature_hash") { (s, d) =>
      TextOps.featureHash(Tables.documents(s, d), dim = 64)
        .orderBy("doc_id", "idx")
    } {
      // portable 32-bit token hash mod 64 slots; counts fold collisions
      s"""WITH tok AS (SELECT doc_id, unnest($tokExpr) AS tok FROM documents)
         |SELECT doc_id, ${PortableHash.hash32Sql("tok")} % 64 AS idx,
         |  count(*) AS cnt
         |FROM tok GROUP BY 1, 2 ORDER BY doc_id, idx""".stripMargin
    },

    /** BPE round 2 — the step that makes t19 a TRAINING loop, not a
      * census: the round-1 winner pair (a 1-row broadcast) merges into a
      * single symbol via plain left-to-right `replace` (identical
      * non-regex semantics in both engines), words re-segment, and
      * adjacent SYMBOL pairs re-count — merged symbols expand back in the
      * display key (`ab+c` = symbols "ab","c"). Each further round is
      * this same query over the re-segmented words. */
    QueryDef("t31_bpe_round2") { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("word"))
      val pairs1 = words.filter(length(col("word")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
      val top = pairs1.orderBy(col("n").desc, col("pair")).limit(1)
        .select(col("pair").as("top_pair"))
      val seg = words.crossJoin(broadcast(top))
        .select(expr("replace(word, top_pair, chr(1))").as("seg"),
          col("top_pair"))
      def sym(at: Column): Column =
        when(at === "\u0001", col("top_pair")).otherwise(at)
      seg.filter(length(col("seg")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("seg")) - 1),
          i => concat(sym(col("seg").substr(i, lit(1))), lit("+"),
            sym(col("seg").substr(i + 1, lit(1)))))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        // t19 discipline: TakeOrdered top-15 first, rank the survivors
        .orderBy(col("n").desc, col("pair")).limit(15)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("pair"))))
        .select("rank", "pair", "n")
        .orderBy("rank")
    } {
      // round-1 winner merges via plain left-to-right replace (identical
      // non-regex semantics), words re-segment, symbol pairs re-count
      s"""WITH words AS (SELECT unnest($tokExpr) AS word FROM documents),
         |idx AS (SELECT word, unnest(generate_series(1, len(word) - 1)) AS i
         |        FROM words WHERE len(word) >= 2),
         |p1 AS (SELECT substr(word, CAST(i AS INT), 2) AS pair FROM idx),
         |top1 AS (SELECT pair AS tp FROM (
         |    SELECT pair, count(*) AS n FROM p1 GROUP BY 1)
         |  ORDER BY n DESC, pair LIMIT 1),
         |seg AS (SELECT replace(word, top1.tp, chr(1)) AS sg, top1.tp
         |        FROM words, top1),
         |si AS (SELECT sg, tp, unnest(generate_series(1, len(sg) - 1)) AS i
         |       FROM seg WHERE len(sg) >= 2),
         |adj AS (SELECT
         |    (CASE WHEN substr(sg, CAST(i AS INT), 1) = chr(1) THEN tp
         |          ELSE substr(sg, CAST(i AS INT), 1) END)
         |    || '+' ||
         |    (CASE WHEN substr(sg, CAST(i AS INT) + 1, 1) = chr(1) THEN tp
         |          ELSE substr(sg, CAST(i AS INT) + 1, 1) END) AS pair
         |  FROM si),
         |c AS (SELECT pair, count(*) AS n FROM adj GROUP BY 1),
         |r AS (SELECT pair, n,
         |    CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank FROM c)
         |SELECT rank, pair, n FROM r WHERE rank <= 15 ORDER BY rank""".stripMargin
    })
}
