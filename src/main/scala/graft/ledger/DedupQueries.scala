package graft
package ledger

import graft.core.Tables
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate detection queries: minhash, LSH, simhash and
  * exact-verify pair relations over `documents`. */
private[graft] object DedupQueries {
  import Common._

  /** Shared CTE chain documents → minhash `sigs` → capped LSH buckets →
    * candidate pairs `cand` (doc1 < doc2) — the DuckDB twin of
    * `minhashSignatures → lshBuckets → lshCandidates` at k=4 / 2 bands,
    * used by every oracle that consumes the candidate relation. */
  private val candCtes: String =
    s"""tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents),
       |hashed AS (SELECT doc_id, ${h("tok")} AS h FROM tok),
       |sigs AS (SELECT doc_id, ${minhashTerms(4)} FROM hashed GROUP BY doc_id),
       |b AS (
       |  SELECT doc_id, 0 AS band, mh0 AS v0, mh1 AS v1 FROM sigs
       |  UNION ALL
       |  SELECT doc_id, 1, mh2, mh3 FROM sigs),
       |keep AS (SELECT band, v0, v1 FROM b GROUP BY 1, 2, 3 HAVING count(*) <= ${lshCap}),
       |bk AS (SELECT b.* FROM b JOIN keep USING (band, v0, v1)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc1, b2.doc_id AS doc2
       |  FROM bk a JOIN bk b2 ON a.band = b2.band AND a.v0 = b2.v0 AND a.v1 = b2.v1
       |    AND a.doc_id < b2.doc_id)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("d1_exact_dedup") { (s, d) =>
      Dedup.exact(Tables.documents(s, d)).orderBy("digest")
    } {
      """SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin
    },

    QueryDef("d2_minhash_sig", headline = true) { (s, d) =>
      Dedup.minhashSignatures(Tables.documents(s, d), k = 4).orderBy("doc_id")
    } {
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents),
         |hashed AS (SELECT doc_id, ${h("tok")} AS h FROM tok)
         |SELECT doc_id, ${minhashTerms(4)} FROM hashed GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    QueryDef("d3_lsh_candidates", headline = true) { (s, d) =>
      val sigs = Dedup.minhashSignatures(Tables.documents(s, d), k = 4)
      Dedup.lshCandidates(Dedup.lshBuckets(sigs, k = 4, rowsPerBand = 2),
          maxBucketSize = lshCap)
        .orderBy("doc1", "doc2")
    } {
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents),
         |hashed AS (SELECT doc_id, ${h("tok")} AS h FROM tok),
         |sigs AS (SELECT doc_id, ${minhashTerms(4)} FROM hashed GROUP BY doc_id),
         |b AS (
         |  SELECT doc_id, 0 AS band, mh0 AS v0, mh1 AS v1 FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1, mh2, mh3 FROM sigs),
         |keep AS (SELECT band, v0, v1 FROM b GROUP BY 1, 2, 3 HAVING count(*) <= ${lshCap}),
         |bk AS (SELECT b.* FROM b JOIN keep USING (band, v0, v1))
         |SELECT DISTINCT a.doc_id AS doc1, b2.doc_id AS doc2
         |FROM bk a JOIN bk b2 ON a.band = b2.band AND a.v0 = b2.v0 AND a.v1 = b2.v1
         |  AND a.doc_id < b2.doc_id
         |ORDER BY doc1, doc2""".stripMargin
    },

    QueryDef("d4_simhash") { (s, d) =>
      Dedup.simhash(Tables.documents(s, d), bits = 16).orderBy("doc_id")
    } {
      val votes = (0 until 16).map(b =>
        s"sum(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
      val sig = (0 until 16).map(b =>
        s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents),
         |hashed AS (SELECT doc_id, ${h("tok")} AS h FROM tok),
         |v AS (SELECT doc_id, $votes FROM hashed GROUP BY doc_id)
         |SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM v ORDER BY doc_id""".stripMargin
    },

    /** Jaccard verify on LSH candidates ONLY — the scalable two-stage
      * pipeline (`lshCandidates → Dedup.jaccard`) instead of a full token
      * self-join, which a single hot token turns quadratic at 100 TB. */
    QueryDef("d5_jaccard_pairs", headline = true, sf1MinOf2 = true) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(docs, k = 4)
      // jaccard consumes the pair relation twice (intersection counts +
      // the outer re-attach); persisting the tiny candidate set keeps the
      // whole minhash→bucket→self-join pipeline from running twice
      val cands = graft.core.Caching.shared(
        Dedup.lshCandidates(Dedup.lshBuckets(sigs, k = 4, rowsPerBand = 2),
          maxBucketSize = lshCap))
      Dedup.jaccard(docs, cands)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .filter(col("jaccard") >= 0.5)
        .select("doc1", "doc2", "inter", "jaccard")
        .orderBy("doc1", "doc2")
    } {
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents),
         |hashed AS (SELECT doc_id, ${h("tok")} AS h FROM tok),
         |sigs AS (SELECT doc_id, ${minhashTerms(4)} FROM hashed GROUP BY doc_id),
         |b AS (
         |  SELECT doc_id, 0 AS band, mh0 AS v0, mh1 AS v1 FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1, mh2, mh3 FROM sigs),
         |keep AS (SELECT band, v0, v1 FROM b GROUP BY 1, 2, 3 HAVING count(*) <= ${lshCap}),
         |bk AS (SELECT b.* FROM b JOIN keep USING (band, v0, v1)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc1, b2.doc_id AS doc2
         |  FROM bk a JOIN bk b2 ON a.band = b2.band AND a.v0 = b2.v0 AND a.v1 = b2.v1
         |    AND a.doc_id < b2.doc_id),
         |sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY doc_id),
         |i AS (SELECT doc1, doc2, count(*) AS inter
         |      FROM cand JOIN tok a ON a.doc_id = doc1 JOIN tok b ON b.doc_id = doc2 AND b.tok = a.tok
         |      GROUP BY 1, 2)
         |SELECT doc1, doc2, inter,
         |  round(inter * 1.0 / (s1.s + s2.s - inter), 4) AS jaccard
         |FROM i JOIN sz s1 ON s1.doc_id = doc1 JOIN sz s2 ON s2.doc_id = doc2
         |WHERE round(inter * 1.0 / (s1.s + s2.s - inter), 4) >= 0.5
         |ORDER BY doc1, doc2""".stripMargin
    },

    /** Character-level near-dup verify over the LSH candidates: the
      * levenshtein builtin on 80-char prefixes. The candidate relation is
      * what bounds the O(L²)-per-pair scalar — it never runs all-pairs. */
    QueryDef("d13_edit_distance") { (s, d) =>
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(docs, k = 4)
      val cands = Dedup.lshCandidates(Dedup.lshBuckets(sigs, k = 4, rowsPerBand = 2),
        maxBucketSize = lshCap)
      Dedup.editVerify(docs, cands, prefixLen = 80)
        .select(col("doc1"), col("doc2"), col("edit_dist").cast("long").as("edit_dist"))
        .orderBy("doc1", "doc2")
    } {
      s"""WITH $candCtes
         |SELECT doc1, doc2,
         |  CAST(levenshtein(substr(a.text, 1, 80), substr(b2.text, 1, 80)) AS BIGINT) AS edit_dist
         |FROM cand JOIN documents a ON a.doc_id = doc1
         |          JOIN documents b2 ON b2.doc_id = doc2
         |ORDER BY doc1, doc2""".stripMargin
    },

    /** Sketch-side Jaccard ESTIMATE on the candidates — the cheap decision
      * layer that picks which pairs earn d5's exact verify. Fraction of
      * equal minhash components: integer-exact across engines. The
      * signature relation feeds both the buckets and the estimate, so it
      * is persisted across the two consumers. */
    QueryDef("d14_minhash_est") { (s, d) =>
      val sigs = graft.core.Caching.shared(
        Dedup.minhashSignatures(Tables.documents(s, d), k = 4))
      val cands = Dedup.lshCandidates(Dedup.lshBuckets(sigs, k = 4, rowsPerBand = 2),
        maxBucketSize = lshCap)
      Dedup.minhashEstimate(sigs, cands, k = 4)
        .withColumn("jaccard_est", round(col("jaccard_est"), 4))
        .orderBy("doc1", "doc2")
    } {
      s"""WITH $candCtes
         |SELECT doc1, doc2,
         |  ((CASE WHEN s1.mh0 = s2.mh0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN s1.mh1 = s2.mh1 THEN 1 ELSE 0 END) +
         |   (CASE WHEN s1.mh2 = s2.mh2 THEN 1 ELSE 0 END) +
         |   (CASE WHEN s1.mh3 = s2.mh3 THEN 1 ELSE 0 END)) AS eq_k,
         |  round(((CASE WHEN s1.mh0 = s2.mh0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN s1.mh1 = s2.mh1 THEN 1 ELSE 0 END) +
         |   (CASE WHEN s1.mh2 = s2.mh2 THEN 1 ELSE 0 END) +
         |   (CASE WHEN s1.mh3 = s2.mh3 THEN 1 ELSE 0 END)) / 4.0, 4) AS jaccard_est
         |FROM cand JOIN sigs s1 ON s1.doc_id = doc1
         |          JOIN sigs s2 ON s2.doc_id = doc2
         |ORDER BY doc1, doc2""".stripMargin
    },

    /** Word-trigram (n=3) Jaccard over the LSH candidates — the n-gram
      * variant of d5's verify. Trigram sets punish token reorders that
      * unigram Jaccard can't see (same bag, different order → near-zero
      * trigram overlap), so the two scores bracket edit locality. Shares
      * the candidate machinery: the corpus shingles once per n, the pair
      * relation is LSH-bounded, never all-pairs. */
    QueryDef("d15_ngram_jaccard") { (s, d) =>
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(docs, k = 4)
      val cands = graft.core.Caching.shared(
        Dedup.lshCandidates(Dedup.lshBuckets(sigs, k = 4, rowsPerBand = 2),
          maxBucketSize = lshCap))
      Dedup.jaccard(docs, cands, n = 3)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .select("doc1", "doc2", "inter", "jaccard")
        .orderBy("doc1", "doc2")
    } {
      // word trigrams: list slice toks[i:i+2] is inclusive (3 tokens),
      // clamped for docs shorter than n — mirrors slice(toks, i+1, 3)
      s"""WITH $candCtes,
         |tokl AS (SELECT doc_id, $tokExpr AS toks FROM documents),
         |tri AS (SELECT doc_id,
         |  unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
         |    FOR i IN range(1, greatest(len(toks)-2, 1)+1)])) AS tok FROM tokl),
         |sz AS (SELECT doc_id, count(*) AS s FROM tri GROUP BY doc_id),
         |i AS (SELECT doc1, doc2, count(*) AS inter
         |      FROM cand JOIN tri a ON a.doc_id = doc1
         |        JOIN tri b ON b.doc_id = doc2 AND b.tok = a.tok
         |      GROUP BY 1, 2)
         |SELECT cand.doc1, cand.doc2,
         |  CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
         |  round(coalesce(i.inter, 0) * 1.0
         |    / (s1.s + s2.s - coalesce(i.inter, 0)), 4) AS jaccard
         |FROM cand LEFT JOIN i ON i.doc1 = cand.doc1 AND i.doc2 = cand.doc2
         |  JOIN sz s1 ON s1.doc_id = cand.doc1
         |  JOIN sz s2 ON s2.doc_id = cand.doc2
         |ORDER BY 1, 2""".stripMargin
    },

    /** EXACT all-pairs similarity join via prefix filtering (AllPairs /
      * PPJoin) at Jaccard ≥ 0.5 — the zero-false-negative sibling of the
      * LSH path: candidates meet in a rarest-token prefix inverted index
      * instead of minhash buckets, so the result is the complete ≥ 0.5
      * pair set, deterministically. See
      * [[graft.operators.Dedup.prefixFilterJoin]]. */
    // Not headline: its sf0.1 output is the complete 8.9M-pair
    // Jaccard >= 0.5 set (~56 s of exact verify); gate-checked at both
    // SFs instead.
    QueryDef("d17_prefix_filter") { (s, d) =>
      Dedup.prefixFilterJoin(Tables.documents(s, d), minJaccard = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .select("doc1", "doc2", "inter", "jaccard")
        .orderBy("doc1", "doc2")
    } {
      // AllPairs/PPJoin prefix-filter replay: df-ordered prefixes of
      // length sz − ⌈t·sz⌉ + 1, token-meet candidates, exact Jaccard ≥ t
      // by integer cross-multiplication — the complete pair set
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents),
         |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
         |dfq AS (SELECT tok, count(*) AS df FROM tok GROUP BY 1),
         |pref AS (SELECT doc_id, tok FROM (
         |    SELECT t.doc_id, t.tok, s.sz,
         |      row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn
         |    FROM tok t JOIN dfq d USING (tok) JOIN sz s USING (doc_id))
         |  WHERE rn <= sz - ((sz * 500000 + 999999) // 1000000) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id),
         |candf AS (SELECT c.doc1, c.doc2, s1.sz AS sz1, s2.sz AS sz2 FROM cand c
         |  JOIN sz s1 ON s1.doc_id = c.doc1 JOIN sz s2 ON s2.doc_id = c.doc2
         |  WHERE least(s1.sz, s2.sz) * 1000000 >= greatest(s1.sz, s2.sz) * 500000),
         |i AS (SELECT c.doc1, c.doc2, c.sz1, c.sz2, count(*) AS inter
         |  FROM candf c JOIN tok t1 ON t1.doc_id = c.doc1
         |    JOIN tok t2 ON t2.doc_id = c.doc2 AND t2.tok = t1.tok
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc1, doc2, CAST(inter AS BIGINT) AS inter,
         |  round(inter * 1.0 / (sz1 + sz2 - inter), 4) AS jaccard
         |FROM i WHERE inter * 1000000 >= (sz1 + sz2 - inter) * 500000
         |ORDER BY doc1, doc2""".stripMargin
    },

    /** Directional containment over the LSH candidates — |A∩B|/|A| and
      * |A∩B|/|B| (quote/superset detection: a doc mostly CONTAINED in a
      * longer one scores near 10⁶ on its side while Jaccard stays low —
      * the asymmetric near-dup relation d5's symmetric score misses).
      * Shares the candidate machinery and the exact intersection fold;
      * thresholds compare in integer micros. */
    QueryDef("d19_containment") { (s, d) =>
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(docs, k = 4)
      val cands = Dedup.lshCandidates(Dedup.lshBuckets(sigs, k = 4, rowsPerBand = 2),
        maxBucketSize = lshCap)
      Dedup.jaccard(docs, cands)
        .select(col("doc1"), col("doc2"), col("inter"),
          expr("inter * 1000000 div sz1").as("cont1_micro"),
          expr("inter * 1000000 div sz2").as("cont2_micro"))
        .filter(col("cont1_micro") >= 800000 || col("cont2_micro") >= 800000)
        .orderBy("doc1", "doc2")
    } {
      // asymmetric containment on the LSH candidates; inter ≥ 1 pairs
      // only on both sides (zero-overlap pairs fail the 0.8 bar anyway)
      s"""WITH $candCtes,
         |sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY doc_id),
         |i AS (SELECT cand.doc1, cand.doc2, count(*) AS inter
         |  FROM cand JOIN tok a ON a.doc_id = cand.doc1
         |    JOIN tok b3 ON b3.doc_id = cand.doc2 AND b3.tok = a.tok
         |  GROUP BY 1, 2),
         |c AS (SELECT i.doc1, i.doc2, CAST(i.inter AS BIGINT) AS inter,
         |    CAST(i.inter * 1000000 // s1.s AS BIGINT) AS cont1_micro,
         |    CAST(i.inter * 1000000 // s2.s AS BIGINT) AS cont2_micro
         |  FROM i JOIN sz s1 ON s1.doc_id = i.doc1
         |    JOIN sz s2 ON s2.doc_id = i.doc2)
         |SELECT * FROM c
         |WHERE cont1_micro >= 800000 OR cont2_micro >= 800000
         |ORDER BY doc1, doc2""".stripMargin
    },

    /** SimHash Hamming-ball near-dup pairs (pigeonhole band join + exact
      * bit_count verify; signatures persisted across the three consumers).
      * Two 8-bit bands / Hamming ≤ 1: wide enough band keys that buckets
      * discriminate — the 4-bit-band variant measured 36× more candidate
      * pairs on the shared-vocab corpus. */
    QueryDef("d7_simhash_pairs") { (s, d) =>
      val sigs = graft.core.Caching.shared(
        Dedup.simhash(Tables.documents(s, d), bits = 16))
      Dedup.simhashCandidates(sigs, bits = 16, bands = 2, maxHamming = 1)
        .orderBy("doc1", "doc2")
    } {
      val votes = (0 until 16).map(b =>
        s"sum(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
      val sig = (0 until 16).map(b =>
        s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents),
         |hashed AS (SELECT doc_id, ${h("tok")} AS h FROM tok),
         |v AS (SELECT doc_id, $votes FROM hashed GROUP BY doc_id),
         |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM v),
         |b AS (SELECT doc_id, simhash, band, (simhash >> (band*8)) % 256 AS key
         |      FROM sig CROSS JOIN (SELECT unnest([0,1]) AS band) t),
         |p AS (SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2, a.simhash AS sh1, c.simhash AS sh2
         |      FROM b a JOIN b c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id)
         |SELECT doc1, doc2, CAST(bit_count(xor(sh1, sh2)) AS INT) AS hamming FROM p
         |WHERE bit_count(xor(sh1, sh2)) <= 1 ORDER BY doc1, doc2""".stripMargin
    },

    /** Dedup grouping: LSH candidate pairs clustered into connected
      * components — the keep-one-per-group step of a production dedup
      * pipeline. group_id = the group's min doc_id (the canonical keeper). */
    QueryDef("d6_dedup_groups", headline = true, sf1MinOf2 = true) { (s, d) =>
      val sigs = Dedup.minhashSignatures(Tables.documents(s, d), k = 4)
      // persist: the symmetric-edge union inside components reads the pair
      // relation twice — don't run the LSH pipeline twice for it
      val cands = graft.core.Caching.shared(
        Dedup.lshCandidates(Dedup.lshBuckets(sigs, k = 4, rowsPerBand = 2),
          maxBucketSize = lshCap))
      Dedup.components(cands).orderBy("doc_id")
    } {
      // transitive closure via recursive CTE, then min over the reach set —
      // tractable at oracle scale (closure is O(n · component size))
      s"""WITH RECURSIVE tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents),
         |hashed AS (SELECT doc_id, ${h("tok")} AS h FROM tok),
         |sigs AS (SELECT doc_id, ${minhashTerms(4)} FROM hashed GROUP BY doc_id),
         |b AS (
         |  SELECT doc_id, 0 AS band, mh0 AS v0, mh1 AS v1 FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1, mh2, mh3 FROM sigs),
         |keep AS (SELECT band, v0, v1 FROM b GROUP BY 1, 2, 3 HAVING count(*) <= ${lshCap}),
         |bk AS (SELECT b.* FROM b JOIN keep USING (band, v0, v1)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b2.doc_id AS doc2
         |  FROM bk a JOIN bk b2 ON a.band = b2.band AND a.v0 = b2.v0 AND a.v1 = b2.v1
         |    AND a.doc_id < b2.doc_id),
         |edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
         |          UNION SELECT doc2, doc1 FROM pairs),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, least(src, min(dst)) AS group_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
    },

    /** Span-level (paragraph-analog) duplicate stats: 16-token spans,
      * corpus-wide distinct-doc counts, per-doc boilerplate fraction. */
    QueryDef("d8_span_dedup") { (s, d) =>
      Dedup.spanDupStats(Tables.documents(s, d), window = 16).orderBy("doc_id")
    } {
      s"""WITH t AS (SELECT doc_id, $tokExpr AS toks FROM documents),
         |sp AS (SELECT doc_id,
         |    array_to_string(toks[CAST(st + 1 AS INT):CAST(st + 16 AS INT)], ' ') AS span
         |  FROM t, unnest(range(0, greatest(len(toks), 1), 16)) AS u(st)
         |  WHERE len(toks) > 0),
         |hs AS (SELECT doc_id, ${h("span")} AS h FROM sp),
         |freq AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM hs GROUP BY 1)
         |SELECT hs.doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  round(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_frac
         |FROM hs JOIN freq f USING (h)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin
    },

    /** End-to-end near-dedup keep/drop decision over the whole corpus:
      * LSH candidates → Jaccard ≥ 0.5 verify → components → keepers. */
    QueryDef("d12_near_dedup") { (s, d) =>
      Dedup.nearDedupKeepers(Tables.documents(s, d), k = 4, rowsPerBand = 2,
        minJaccard = 0.5, maxBucketSize = lshCap).orderBy("doc_id")
    } {
      // span chunking mirrors chunkTexts(window=16, stride=16): starts
      // 0,16,… (range excludes its stop like sequence(0, len-1, 16) for
      // len ≥ 1), spans are inclusive 1-based list slices rejoined
      s"""WITH RECURSIVE tok AS (SELECT doc_id, unnest(list_distinct($tokExpr)) AS tok FROM documents),
         |hashed AS (SELECT doc_id, ${h("tok")} AS h FROM tok),
         |sigs AS (SELECT doc_id, ${minhashTerms(4)} FROM hashed GROUP BY doc_id),
         |b AS (
         |  SELECT doc_id, 0 AS band, mh0 AS v0, mh1 AS v1 FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1, mh2, mh3 FROM sigs),
         |keep AS (SELECT band, v0, v1 FROM b GROUP BY 1, 2, 3 HAVING count(*) <= ${lshCap}),
         |bk AS (SELECT b.* FROM b JOIN keep USING (band, v0, v1)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc1, b2.doc_id AS doc2
         |  FROM bk a JOIN bk b2 ON a.band = b2.band AND a.v0 = b2.v0 AND a.v1 = b2.v1
         |    AND a.doc_id < b2.doc_id),
         |sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY doc_id),
         |i AS (SELECT doc1, doc2, count(*) AS inter
         |      FROM cand JOIN tok a ON a.doc_id = doc1 JOIN tok b ON b.doc_id = doc2 AND b.tok = a.tok
         |      GROUP BY 1, 2),
         |ver AS (SELECT doc1, doc2 FROM i
         |  JOIN sz s1 ON s1.doc_id = doc1 JOIN sz s2 ON s2.doc_id = doc2
         |  WHERE round(inter * 1.0 / (s1.s + s2.s - inter), 4) >= 0.5),
         |edges AS (SELECT doc1 AS src, doc2 AS dst FROM ver
         |          UNION SELECT doc2, doc1 FROM ver),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS group_id
         |         FROM reach GROUP BY src)
         |SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS group_id,
         |  CAST(d.doc_id = coalesce(c.group_id, d.doc_id) AS INT) AS keep
         |FROM documents d LEFT JOIN comp c USING (doc_id) ORDER BY d.doc_id""".stripMargin
    },

    /** Exact duplicated-substring coverage: overlapping 8-token rolling-hash
      * windows, corpus-wide repeat filter, per-doc interval union — docs
      * with at least one duplicated passage and the token fraction it
      * covers. */
    QueryDef("d11_substring_dup") { (s, d) =>
      Dedup.substringDupCoverage(Tables.documents(s, d), window = 8).orderBy("doc_id")
    } {
      s"""WITH t AS (SELECT doc_id, $tokExpr AS toks FROM documents),
         |tt AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) >= 8),
         |w AS (SELECT doc_id, n, CAST(i AS BIGINT) AS i,
         |    ${h("array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')")} AS h
         |  FROM tt, unnest(range(1, CAST(n - 6 AS INT))) AS u(i)),
         |dup AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1),
         |d AS (SELECT doc_id, n, i FROM w JOIN dup USING (h)),
         |c AS (SELECT doc_id, n, i,
         |  max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM d),
         |s AS (SELECT doc_id, n,
         |  greatest(0, (i + 7) - greatest(coalesce(pme, i - 1), i - 1)) AS cov FROM c)
         |SELECT doc_id, n AS n_tokens, CAST(sum(cov) AS BIGINT) AS dup_tokens,
         |  round(sum(cov) * 1.0 / n, 4) AS dup_frac
         |FROM s GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
    },

    /** Benchmark decontamination: distinct 5-gram overlap of every corpus
      * doc against the `src0` slice standing in for an eval suite. */
    QueryDef("d9_contamination") { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contamination(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), n = 5)
        .orderBy("doc_id")
    } {
      s"""WITH t AS (SELECT doc_id, source, $tokExpr AS toks FROM documents),
         |g AS (SELECT doc_id, source, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(toks) - 4, 0) + 1),
         |    i -> array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')))) AS gram
         |  FROM t WHERE len(toks) >= 5),
         |hg AS (SELECT doc_id, source, ${h("gram")} AS g FROM g),
         |bench AS (SELECT DISTINCT g FROM hg WHERE source = 'src0')
         |SELECT hg.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS contamination
         |FROM hg LEFT JOIN bench b ON hg.g = b.g
         |WHERE hg.source <> 'src0'
         |GROUP BY 1 ORDER BY doc_id""".stripMargin
    },

    /** Content-defined chunking + chunk-level dedup census — the
      * insertion-robust dedup granularity (rsync/FastCDC boundaries from
      * rolling content hashes, so an inserted token disturbs one chunk,
      * not every downstream window). See
      * [[graft.operators.Dedup.cdcChunkStats]]. */
    QueryDef("d16_cdc_chunks") { (s, d) =>
      Dedup.cdcChunkStats(Tables.documents(s, d), window = 4, mask = 16)
        .orderBy("doc_id")
    } {
      // content-defined boundaries replay: same last-4-token context
      // through the portable hash, same cumsum chunk ids, same md5 chunk
      // identity — then an ordinary digest census
      s"""WITH t AS (SELECT doc_id, $tokExpr AS toks FROM documents),
         |t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
         |p AS (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM t2),
         |tk AS (SELECT doc_id, pos, toks[pos + 1] AS tok,
         |    CASE WHEN pos >= 3 AND
         |      ${h("array_to_string(list_slice(toks, pos - 2, pos + 1), ' ')")} % 16 = 0
         |      THEN 1 ELSE 0 END AS b
         |  FROM p),
         |ck AS (SELECT doc_id, pos, tok,
         |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
         |  FROM tk),
         |ch AS (SELECT doc_id, chunk, count(*) AS n_tokens,
         |    md5(string_agg(tok, ' ' ORDER BY pos)) AS digest
         |  FROM ck GROUP BY 1, 2),
         |cs AS (SELECT digest, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN nd > 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS n_dup_tokens
         |FROM ch JOIN cs USING (digest) GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    /** Incremental dedup probe: the `src0` slice plays the new ingest
      * batch, everything else the already-curated corpus; candidates are
      * batch-vs-corpus bucket collisions only — neither side self-joins. */
    QueryDef("d10_incremental_dedup") { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("source") =!= "src0")
      val batch = docs.filter(col("source") === "src0")
      def buckets(df: DataFrame) =
        Dedup.lshBuckets(Dedup.minhashSignatures(df, k = 4), k = 4, rowsPerBand = 2)
      Dedup.lshCandidatesCross(buckets(batch), buckets(corpus), maxBucketSize = lshCap)
        .orderBy("probe_id", "corpus_id")
    } {
      s"""WITH tok AS (SELECT doc_id, source, unnest(list_distinct($tokExpr)) AS tok FROM documents),
         |hashed AS (SELECT doc_id, source, ${h("tok")} AS h FROM tok),
         |sigs AS (SELECT doc_id, source, ${minhashTerms(4)} FROM hashed GROUP BY doc_id, source),
         |b AS (
         |  SELECT doc_id, source, 0 AS band, mh0 AS v0, mh1 AS v1 FROM sigs
         |  UNION ALL
         |  SELECT doc_id, source, 1, mh2, mh3 FROM sigs),
         |cb AS (SELECT * FROM b WHERE source <> 'src0'),
         |pb AS (SELECT * FROM b WHERE source = 'src0'),
         |keep AS (SELECT band, v0, v1 FROM cb GROUP BY 1, 2, 3 HAVING count(*) <= ${lshCap}),
         |ck AS (SELECT cb.* FROM cb JOIN keep USING (band, v0, v1))
         |SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS corpus_id
         |FROM pb p JOIN ck c ON p.band = c.band AND p.v0 = c.v0 AND p.v1 = c.v1
         |ORDER BY probe_id, corpus_id""".stripMargin
    },

    /** Dedup-pipeline metrology — recall of the LSH near-dup pipeline
      * (d3 candidates → exact ≥ 0.5 verify) against the COMPLETE ground
      * truth d17's prefix-filter join provides: the measurement that
      * decides whether the probabilistic path's bands/rows are tuned
      * tightly enough to ship. Both pair sets use the identical integer
      * cross-multiplied threshold, so found ⊆ true by construction and
      * the recall is exact. */
    QueryDef("d18_lsh_recall") { (s, d) =>
      val docs = Tables.documents(s, d)
      val exact = Dedup.prefixFilterJoin(docs, minJaccard = 0.5)
        .select("doc1", "doc2")
      val sigs = Dedup.minhashSignatures(docs, k = 4)
      val cands = Dedup.lshCandidates(Dedup.lshBuckets(sigs, k = 4, rowsPerBand = 2),
        maxBucketSize = lshCap)
      val lsh = Dedup.jaccard(docs, cands)
        .filter(col("inter") * 1000000L >= col("uni") * 500000L)
        .select(col("doc1"), col("doc2"), lit(1L).as("__hit"))
      exact.join(lsh, Seq("doc1", "doc2"), "left")
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum("__hit"), lit(0L)).as("n_found"))
        .select(col("n_true"), col("n_found"),
          when(col("n_true") === 0, 1000000L)
            .otherwise(expr("n_found * 1000000 div n_true")).as("recall_micro"))
    } {
      // recall of the LSH pipeline against the complete brute-force
      // pair set; identical integer thresholds ⇒ found ⊆ true
      s"""WITH $candCtes,
         |sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY doc_id),
         |lshp AS (SELECT j.doc1, j.doc2
         |  FROM (SELECT cand.doc1, cand.doc2, count(*) AS inter
         |      FROM cand JOIN tok a ON a.doc_id = cand.doc1
         |        JOIN tok b3 ON b3.doc_id = cand.doc2 AND b3.tok = a.tok
         |      GROUP BY 1, 2) j
         |  JOIN sz s1 ON s1.doc_id = j.doc1 JOIN sz s2 ON s2.doc_id = j.doc2
         |  WHERE j.inter * 1000000 >= (s1.s + s2.s - j.inter) * 500000),
         |truth AS (SELECT p.doc1, p.doc2
         |  FROM (SELECT t1.doc_id AS doc1, t2.doc_id AS doc2, count(*) AS inter
         |      FROM tok t1 JOIN tok t2 ON t1.tok = t2.tok AND t1.doc_id < t2.doc_id
         |      GROUP BY 1, 2) p
         |  JOIN sz s1 ON s1.doc_id = p.doc1 JOIN sz s2 ON s2.doc_id = p.doc2
         |  WHERE p.inter * 1000000 >= (s1.s + s2.s - p.inter) * 500000)
         |SELECT CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(coalesce(sum(CASE WHEN l.doc1 IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_found,
         |  CAST(CASE WHEN count(*) = 0 THEN 1000000
         |    ELSE coalesce(sum(CASE WHEN l.doc1 IS NOT NULL THEN 1 ELSE 0 END), 0)
         |      * 1000000 // count(*) END AS BIGINT) AS recall_micro
         |FROM truth t LEFT JOIN lshp l ON l.doc1 = t.doc1 AND l.doc2 = t.doc2""".stripMargin
    })
}
