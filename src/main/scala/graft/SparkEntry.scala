package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Analytics, Classify, Curation, Dedup, Endpoints, Multimodal, Ops, Search, Similarity, Views}
import graft.functions.{TextFns, VectorFns}
import graft.streaming.{QueueIngest, StreamingViews}

/** Driver contract — every operator from SURVEY.md §2 (plus the training-data
  * pipeline extensions) as a named query with, where SQL-expressible, a DuckDB
  * oracle that hash-matches exactly.
  *
  * Oracle-parity conventions (SURVEY.md §5, FIXTURES.md caveats):
  *  - `events.ts` is ns-precision parquet: Spark reads µs, so every oracle casts
  *    `CAST(ts AS TIMESTAMP)` (µs) before use;
  *  - double aggregates go through DECIMAL(18,2): all testdata doubles are exact
  *    2-decimal values, so the cast is lossless and the sum is exact in both
  *    engines, then cast back to DOUBLE;
  *  - every top-N carries a full tie-break key; no wall clock inside queries;
  *  - integer widths harmonized to BIGINT (DuckDB len/count are 64-bit).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. (lineitem-based so it
    * runs even in a session without the nanos-as-long legacy conf.) */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def dec6(c: Column): Column = c.cast("decimal(18,6)")

  /** One registry entry. `headline` marks the scale-path form of each major
    * capability group — the subset `Bench` prints on its stdout line. */
  private case class Q(name: String,
                       fn: (SparkSession, String) => DataFrame,
                       oracle: Option[String],
                       headline: Boolean = false)

  /** Pinned merge table for `text_bpe_encode_fixed` — each side is a single
    * char or the product of an EARLIER rank (the trained-vocabulary invariant
    * that makes rank-order replay equal lowest-rank-first encoding; the
    * DuckDB oracle relies on it). */
  private val fixedBpeMerges: Seq[graft.operators.Bpe.Merge] = {
    import graft.operators.Bpe.Merge
    Seq(Merge(0, "t", "a"), Merge(1, "ta", "b"), Merge(2, "l", "e"),
      Merge(3, "s", "t"), Merge(4, "e", "r"), Merge(5, "st", "r"),
      Merge(6, "a", "n"), Merge(7, "j", "o"), Merge(8, "o", "w"),
      Merge(9, "h", "a"))
  }

  /** Pinned piece table for `text_unigram_encode_fixed`: six two-char pieces
    * whose first chars are pairwise distinct (at most one piece can start at
    * any position) and whose suffix set {r,n,y,h} is disjoint from their
    * prefix set {e,a,i,o,l,c} (no two occurrences can overlap). Piece
    * occurrences in any word are therefore unique and non-overlapping, and
    * with each piece's log-prob (-3) beating its two-char decomposition
    * (2 × unk = -20) the Viterbi optimum is exactly "use every occurrence" —
    * which DuckDB replays as one bracket-replace pass per piece (the
    * text_bpe_encode_fixed trick), making the decode fully hash-oracled. */
  private val fixedUnigramPieces: Seq[graft.operators.Unigram.Piece] = {
    import graft.operators.Unigram.Piece
    Seq(Piece("er", -3.0), Piece("an", -3.0), Piece("in", -3.0),
      Piece("on", -3.0), Piece("ly", -3.0), Piece("ch", -3.0))
  }

  // ------------------------------------------------------------------
  // Oracle SQL shared by more than one entry. Each fragment has one
  // definition, so a fix to it reaches every oracle that uses it. A
  // fragment opening with `WITH` is a CTE list the caller continues with
  // `,` + more CTEs or with the final SELECT.
  // ------------------------------------------------------------------

  /** [[graft.functions.TextFns.normalize]] of `text` as DuckDB SQL. */
  private val normSql = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""

  /** `t(doc_id, norm)`: each document's [[normSql]] text. */
  private val normCte = s"WITH t AS (SELECT doc_id, $normSql AS norm FROM documents)"

  /** `t(doc_id, toks)`: each document's [[graft.functions.TextFns.tokens]]. */
  private val tokensCte =
    s"WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents)"

  /** `g(doc_id, grams)`: each document's distinct word 3-grams (`[]` under
    * three tokens), over the `t(doc_id, norm)` CTE that `normT` opens. */
  private def trigramCtes(normT: String): String = normT + """,
       tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM t),
       g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3 THEN
           list_transform(generate_series(1, len(toks) - 2),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           ELSE [] END) AS grams FROM tk)"""

  /** `b(doc_id, bg)`: every adjacent word pair of each document, over
    * [[tokensCte]]'s `t`. */
  private val bigramCtes = tokensCte + """,
       b AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1])
           ELSE [] END) AS bg FROM t)"""

  /** `p(a_id, b_id, jaccard)`: 3-gram Jaccard of every document pair that
    * shares a 40-char normalized prefix (the blocking key of the n-gram
    * Jaccard dedup entries). */
  private val jaccardPairCtes = trigramCtes(normCte) + """,
       bg AS (SELECT doc_id, substr(norm, 1, 40) AS block, grams FROM g JOIN t USING (doc_id)),
       p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
           len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
         FROM bg a JOIN bg b ON a.block = b.block AND a.doc_id < b.doc_id)"""

  /** `cc(id, cluster_id)`: connected components (min doc_id label) of the
    * [[jaccardPairCtes]] pairs at jaccard >= 0.3, every document a node. */
  private val jaccardClusterCtes = "WITH RECURSIVE" + jaccardPairCtes.stripPrefix("WITH") + """,
       e AS (SELECT a_id AS src, b_id AS dst FROM p WHERE jaccard >= 0.3
             UNION SELECT b_id, a_id FROM p WHERE jaccard >= 0.3),
       reach AS (
         SELECT doc_id AS id, doc_id AS label FROM documents
         UNION
         SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.id),
       cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)"""

  /** Shared oracle for both min-id cluster forms (two-phase and star
    * contraction): the same components, each labelled by its min doc_id. */
  private val jaccardClustersOracle = jaccardClusterCtes + """
       SELECT id AS doc_id, cluster_id, id = cluster_id AS keep FROM cc"""

  /** `l(doc_id, norm, n_tokens, avg_token_len, score_en..score_fr,
    * pred_lang)`: the stopword language ID and quality features of the
    * curation oracles; 'und' when no stopword hits, ties to en, de, es, fr
    * in that order. */
  private val langScoredCtes = normCte + """,
       x AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM t),
       s AS (SELECT doc_id, norm, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks) AS avg_token_len,
         len(list_filter(toks, t -> t IN ('the','and','of','to','in'))) AS score_en,
         len(list_filter(toks, t -> t IN ('der','die','und','ist','das'))) AS score_de,
         len(list_filter(toks, t -> t IN ('el','la','de','que','y'))) AS score_es,
         len(list_filter(toks, t -> t IN ('le','la','et','les','des'))) AS score_fr
         FROM x),
       l AS (SELECT *,
         CASE WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
              WHEN score_en = greatest(score_en, score_de, score_es, score_fr) THEN 'en'
              WHEN score_de = greatest(score_en, score_de, score_es, score_fr) THEN 'de'
              WHEN score_es = greatest(score_en, score_de, score_es, score_fr) THEN 'es'
              ELSE 'fr' END AS pred_lang
         FROM s)"""

  /** Shared oracle for both curation forms (text-keyed and
    * fingerprint-keyed dedup): English docs of at least 20 tokens averaging
    * at most 5 chars, one row per normalized text. */
  private val curateOracle = langScoredCtes + """,
       f AS (SELECT * FROM l
         WHERE pred_lang = 'en' AND n_tokens >= 20 AND avg_token_len <= 5.0)
       SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tokens,
         round(min(avg_token_len), 6) AS avg_token_len, count(*) AS dup_count
       FROM f GROUP BY norm"""

  /** Multinomial Naive-Bayes model CTEs (add-one smoothing, lang labels)
    * trained on `FROM $train`: `tok(doc_id, lang, term)`,
    * `pri(cand, logprior)` and `model(term, cand, logp)`. */
  private def nbModelCtes(train: String): String =
    s"""WITH t AS (SELECT doc_id, lang,
         unnest(string_split($normSql, ' ')) AS term FROM $train),
       tok AS (SELECT doc_id, lang, term FROM t WHERE len(term) > 0),
       ct AS (SELECT lang AS cand, term, count(*) AS c_ct FROM tok GROUP BY 1, 2),
       cc AS (SELECT cand, sum(c_ct) AS c_c FROM ct GROUP BY 1),
       v AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS vsz FROM tok),
       pri AS (SELECT lang AS cand,
         ln(CAST(count(*) AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM $train)) AS logprior
         FROM $train GROUP BY 1),
       vocab AS (SELECT DISTINCT term FROM ct),
       model AS (SELECT vocab.term, pri.cand,
         ln((CAST(coalesce(ct.c_ct, 0) AS DOUBLE) + 1.0) / (CAST(cc.c_c AS DOUBLE) + v.vsz)) AS logp
         FROM vocab CROSS JOIN pri JOIN cc USING (cand)
         LEFT JOIN ct ON ct.term = vocab.term AND ct.cand = pri.cand, v)"""

  /** `scored(doc_id, cand, nb_score)`: every document scored under the
    * [[nbModelCtes]] model trained on all documents. */
  private val nbSelfScoredCtes = nbModelCtes("documents") + """,
       sc AS (SELECT tok.doc_id, model.cand, sum(model.logp) AS loglik
         FROM tok JOIN model ON tok.term = model.term GROUP BY 1, 2),
       scored AS (SELECT doc_id, cand, round(loglik + logprior, 6) AS nb_score
         FROM sc JOIN pri USING (cand))"""

  /** Shared oracle for the three per-doc encode gates (trained BPE, trained
    * unigram, sampled unigram): the whitespace word count, the gate
    * columns TRUE. */
  private val wordCountGateOracle = tokensCte + """
       SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
         TRUE AS chars_preserved, TRUE AS count_bounded
       FROM t"""

  /** `enc(doc_id, n_words, encw)` of the pinned-table encode oracles: each
    * `[<>]`-stripped document's words char-wrapped ('<s><t><r>'), then one
    * left-to-right replace pass per (left, right) fuse, in table order.
    * Per-symbol brackets share no boundary chars, so each pass is exactly
    * one non-chaining fuse of the encoder. */
  private def bracketEncodeCtes(fuses: Seq[(String, String)]): String =
    """WITH t AS (SELECT doc_id,
         string_split(lower(trim(regexp_replace(
           regexp_replace(text, '[<>]', '', 'g'), '\s+', ' ', 'g'))), ' ') AS toks
         FROM documents),
       enc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
         list_transform(toks, w -> """ +
      fuses.foldLeft("""regexp_replace(w, '(.)', '<\1>', 'g')""") {
        case (w, (l, r)) => s"replace($w, '<$l><$r>', '<$l$r>')" } + """) AS encw
         FROM t)"""

  private val bpeEncodeCtes = bracketEncodeCtes(fixedBpeMerges.map(m => m.left -> m.right))
  private val unigramEncodeCtes =
    bracketEncodeCtes(fixedUnigramPieces.map(p => p.piece.take(1) -> p.piece.drop(1)))

  /** `s(doc_id, pack_group, n_tokens, tokens_before)`: each document's token
    * count and the tokens ahead of it in its doc_id % 32 pack group. */
  private val packCtes = tokensCte + """,
       s AS (SELECT doc_id, doc_id % 32 AS pack_group,
         CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
       w AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS tokens_before
         FROM s)"""

  /** `g2(doc_id, pos, gram)`: every word `n`-gram of each document with its
    * 0-based start, over [[tokensCte]]'s `t`. */
  private def posGramCtes(n: Int): String = tokensCte + s""",
       g AS (SELECT doc_id, unnest(generate_series(1, len(toks) - ${n - 1})) AS i, toks
         FROM t WHERE len(toks) >= $n),
       g2 AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+${n - 1}], ' ') AS gram
         FROM g)"""

  /** `s(doc_id, pos, island)`: the `h(doc_id, pos)` hit positions in islands
    * of `n`-grams, a new island wherever a hit starts more than `n` tokens
    * after the previous one. */
  private def hitIslandCtes(n: Int): String = s""",
       l AS (SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > $n
              THEN 1 ELSE 0 END AS ni
         FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       s AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS UNBOUNDED PRECEDING) AS island FROM l)"""

  /** One row per [[hitIslandCtes]] island of `n`-grams: its first and last
    * token position and its hit count. */
  private def islandSpansSelect(n: Int): String = s"""
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + ${n - 1} AS BIGINT) AS span_end, CAST(count(*) AS BIGINT) AS n_grams
       FROM s GROUP BY doc_id, island"""

  /** Islands of the 8-grams that occur in at least two documents. */
  private val dupSpanCtes = posGramCtes(8) + """,
       d AS (SELECT gram FROM g2 GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
       h AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN d USING (gram))""" + hitIslandCtes(8)

  /** Islands of each corpus doc's 3-grams found in the benchmark docs
    * (doc_id % 20 = 0). */
  private val benchSpanCtes = posGramCtes(3) + """,
       bench AS (SELECT DISTINCT gram FROM g2 WHERE doc_id % 20 = 0),
       h AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN bench USING (gram)
         WHERE g2.doc_id % 20 <> 0)""" + hitIslandCtes(3)

  /** The span-trim SELECT over [[hitIslandCtes]]' `s`: every token of
    * `docs(doc_id, toks)` inside an island's span (its last `n`-gram
    * included) removed, the rest rejoined. */
  private def trimSpansSelect(docs: String, n: Int): String = s""",
       sp AS (SELECT doc_id, min(pos) AS a, max(pos) + ${n - 1} AS b
         FROM s GROUP BY doc_id, island),
       tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS j, toks FROM $docs),
       tok2 AS (SELECT doc_id, j - 1 AS p, toks[j] AS w FROM tok),
       kept AS (SELECT k.doc_id, k.p, k.w FROM tok2 k
         WHERE NOT EXISTS (SELECT 1 FROM sp
           WHERE sp.doc_id = k.doc_id AND k.p BETWEEN sp.a AND sp.b)),
       agg AS (SELECT doc_id, array_to_string(list(w ORDER BY p), ' ') AS text_trimmed,
         count(*) AS n_kept FROM kept GROUP BY doc_id)
       SELECT $docs.doc_id, coalesce(agg.text_trimmed, '') AS text_trimmed,
         CAST(len($docs.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_tokens_removed
       FROM $docs LEFT JOIN agg ON $docs.doc_id = agg.doc_id"""

  /** [[graft.functions.TextFns.fingerprint]]'s polynomial rolling hash of a
    * `clean` column (normalized text without [^a-z0-9 ] chars). */
  private val cleanFingerprintSql = """list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, length(clean)),
             i -> CAST(ord(substr(clean, i, 1)) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 1000000007)"""

  /** `f(doc_id, source, fp)`: each document's
    * [[graft.functions.TextFns.fingerprint]]. */
  private val fingerprintCtes =
    s"""WITH t AS (SELECT doc_id, source,
         regexp_replace($normSql, '[^a-z0-9 ]', '', 'g') AS clean FROM documents),
       f AS (SELECT doc_id, source, $cleanFingerprintSql AS fp FROM t)"""

  /** `p(a_id, b_id, cosine)`: every embedding pair's dot product (the
    * cosine of the unit fixture vectors), rounded to the 6-decimal
    * cross-engine key. */
  private val cosinePairCtes =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round(list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, len(a.emb)), i -> a.emb[i] * b.emb[i])),
           (acc, x) -> acc + x), 6) AS cosine
         FROM e a JOIN e b ON a.vec_id < b.vec_id)"""

  /** Shared oracle for both cosine pair-recall gates (LSH blocking and
    * SemDeDup cells) against the exact pairs at cosine >= 0.4. */
  private val cosinePairRecallOracle = cosinePairCtes + """
       SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, TRUE AS recall_ok,
         TRUE AS precision_one
       FROM p WHERE cosine >= 0.4"""

  /** Oracle of a [[topkRecallGate]] or [[persistedEqualityGate]] row for the
    * embeddings `WHERE queries` as queries: their count, k results each,
    * and `gate` TRUE. */
  private def topkGateOracle(gate: String, queries: String = "vec_id < 20",
                             k: Int = 10): String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST($k * count(*) AS BIGINT) AS n_results, TRUE AS $gate
       FROM embeddings WHERE $queries"""

  /** Oracle of a stream-equals-batch gate row: the `from` row count as
    * `countCol` and `stream_equals_batch` TRUE. */
  private def streamGateOracle(countCol: String, from: String): String =
    s"""SELECT CAST(count(*) AS BIGINT) AS $countCol, TRUE AS stream_equals_batch
       FROM $from"""

  /** `ex`, `rk` and the top-10 SELECT that rerank a `short(query_id, vec_id)`
    * candidate list by exact cosine over `e(vec_id, emb)` — the tail of the
    * shortlist-then-rerank ANN oracles. */
  private val rerankTop10Select = """,
       ex AS (SELECT short.query_id, short.vec_id,
         round(list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, len(c.emb)),
             i -> qe.emb[i] * c.emb[i])),
           (acc, x) -> acc + x), 6) AS cosine
         FROM short JOIN e c ON short.vec_id = c.vec_id
         JOIN e qe ON short.query_id = qe.vec_id),
       rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, vec_id) AS rank FROM ex)
       SELECT query_id, vec_id, cosine, rank FROM rk WHERE rank <= 10"""

  /** `e(vec_id, emb)` and `sl(j, ws)`: the 16 fixed ±0.25 (±1/√16) sign
    * rows over the 64 dims, by the integer sign hash of
    * [[Similarity.rpSignRows]]. */
  private val rpSignCtes =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       sgn AS (SELECT j, i,
         CASE WHEN ((s * s) % 2038074743) % 2 = 0 THEN 0.25 ELSE -0.25 END AS w
         FROM (SELECT j, i, ((y * y) % 2038074743) AS s
           FROM (SELECT j, i,
             ((i * 1299721 + j * 7919 + 104729) % 2038074743) AS y
             FROM generate_series(0, 15) AS gj(j), generate_series(0, 63) AS gi(i)))),
       sl AS (SELECT j, list(w ORDER BY i) AS ws FROM sgn GROUP BY j)"""

  /** `sc(doc_id, bm25)`: every document's BM25 (k1 1.2, b 0.75) for the
    * fixed query 'vector merge stream'. */
  private val bm25ThreeTermCtes = tokensCte + """,
       x AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
         CAST(len(list_filter(toks, w -> w = 'vector')) AS DOUBLE) AS tf0,
         CAST(len(list_filter(toks, w -> w = 'merge')) AS DOUBLE) AS tf1,
         CAST(len(list_filter(toks, w -> w = 'stream')) AS DOUBLE) AS tf2
         FROM t),
       st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
         sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
         FROM x),
       sc AS (SELECT doc_id, round(
           ln(1 + (n_docs - df0 + 0.5) / (df0 + 0.5))
             * (tf0 * 2.2) / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         + ln(1 + (n_docs - df1 + 0.5) / (df1 + 0.5))
             * (tf1 * 2.2) / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         + ln(1 + (n_docs - df2 + 0.5) / (df2 + 0.5))
             * (tf2 * 2.2) / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6) AS bm25
         FROM x, st)"""

  /** `e(doc_id, term)`: each document's distinct terms. */
  private val docTermCtes = tokensCte + """,
       e AS (SELECT DISTINCT doc_id, term FROM (SELECT doc_id, unnest(toks) AS term FROM t))"""

  /** `tf(term, doc_id, tf)` of every non-empty term and `n(n_docs)`. */
  private val termFreqCtes = tokensCte + """,
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       p AS (SELECT doc_id, unnest(toks) AS term FROM t),
       tf AS (SELECT term, doc_id, CAST(count(*) AS DOUBLE) AS tf
         FROM p WHERE len(term) > 0 GROUP BY 1, 2)"""

  /** `f(doc_id, w, h, i)`: each document's synthetic AVI frames
    * ([[Multimodal.syntheticAvisFromDocuments]]'s sizes and frame count). */
  private val aviFramesCte =
    """WITH f AS (SELECT doc_id, (doc_id % 13) + 4 AS w, (doc_id % 11) + 4 AS h,
         unnest(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS i
         FROM documents)"""

  /** `d(doc_id, w, h, i, delta_sum)`: each AVI frame's summed absolute pixel
    * change from the previous frame (the first frame: its pixel sum). */
  private val aviDeltaCtes = aviFramesCte + """,
       d AS (SELECT doc_id, w, h, i,
         CAST(list_sum(list_transform(generate_series(0, w * h - 1), j ->
           CASE WHEN i = 0
           THEN (doc_id * 31 + ((j // w) // 8) * 37 + ((j % w) // 8) * 11) % 251
           ELSE abs((doc_id * 31 + i * 257 + ((j // w) // 8) * 37 + ((j % w) // 8) * 11) % 251
                  - (doc_id * 31 + (i - 1) * 257 + ((j // w) // 8) * 37 + ((j % w) // 8) * 11) % 251)
           END)) AS BIGINT) AS delta_sum
         FROM f)"""

  /** The checksum columns of frame `i` (w × h samples) of an
    * [[aviFramesCte]] video: sum, position-weighted sum, first and last
    * sample. */
  private val aviPixelCols =
    """CAST(list_sum(list_transform(generate_series(0, w * h - 1),
         j -> (doc_id * 31 + i * 257 + ((j // w) // 8) * 37 + ((j % w) // 8) * 11) % 251))
         AS BIGINT) AS pixel_sum,
       CAST(list_sum(list_transform(generate_series(0, w * h - 1),
         j -> (j + 1) * ((doc_id * 31 + i * 257 + ((j // w) // 8) * 37 + ((j % w) // 8) * 11) % 251)))
         AS BIGINT) AS pixel_poly,
       CAST((doc_id * 31 + i * 257) % 251 AS INT) AS pixel_first,
       CAST((doc_id * 31 + i * 257 + ((h - 1) // 8) * 37 + ((w - 1) // 8) * 11) % 251 AS INT) AS pixel_last"""

  /** `wl(doc_id, k, st, len)`: each synthetic WAV's 32-sample windows at
    * hop 16 ([[Multimodal]]'s fixture: 64 + doc_id % 37 samples). */
  private val wavWindowCtes =
    """WITH d AS (SELECT doc_id, 64 + doc_id % 37 AS n FROM documents),
       w AS (SELECT doc_id, n,
         unnest(generate_series(0, (n - 1) // 16)) AS k FROM d),
       wl AS (SELECT doc_id, k, 16 * k AS st,
         least(32, n - 16 * k) AS len FROM w)"""

  /** Shared oracle for both hourly (event type, count) views, batch and
    * queue-stream. */
  private val hourTypeCountsOracle =
    """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') AS hour_bucket,
       event_type, count(*) AS cnt FROM events GROUP BY 1, 2"""

  /** Shared oracle for both multi-granularity bucket counts, batch and
    * stream. */
  private val bucketCountsOracle =
    """WITH b AS (
       SELECT '5min' AS granularity,
         '5min:' || strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') ||
         lpad(CAST((minute(CAST(ts AS TIMESTAMP)) // 5) * 5 AS VARCHAR), 2, '0') AS time_bucket
       FROM events
       UNION ALL
       SELECT 'hourly', 'hourly:' || strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') FROM events
       UNION ALL
       SELECT 'daily', 'daily:' || strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') FROM events)
       SELECT granularity, time_bucket, count(*) AS cnt FROM b GROUP BY 1, 2"""

  /** `s1`, `s2`, `s3(user_id, t0, t)`: the users reaching each funnel stage
    * (signup, then view, then purchase, all within 168 h of the signup). */
  private val funnelCtes =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
         FROM events),
       s1 AS (SELECT user_id, min(ts) AS t0, min(ts) AS t FROM e
         WHERE event_type = 'signup' GROUP BY user_id),
       s2 AS (SELECT e.user_id, min(s1.t0) AS t0, min(e.ts) AS t
         FROM e JOIN s1 USING (user_id)
         WHERE e.event_type = 'view' AND e.ts >= s1.t
           AND e.ts <= s1.t0 + INTERVAL 168 HOURS GROUP BY e.user_id),
       s3 AS (SELECT e.user_id, min(s2.t0) AS t0, min(e.ts) AS t
         FROM e JOIN s2 USING (user_id)
         WHERE e.event_type = 'purchase' AND e.ts >= s2.t
           AND e.ts <= s2.t0 + INTERVAL 168 HOURS GROUP BY e.user_id)"""

  /** Oracle of the hourly top-3 event types, the type column named `item`. */
  private def hourlyTopTypesOracle(item: String): String =
    s"""SELECT hour_bucket, $item, cnt, rank FROM (
         SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') AS hour_bucket,
           event_type AS $item, count(*) AS cnt,
           row_number() OVER (
             PARTITION BY strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H')
             ORDER BY count(*) DESC, event_type) AS rank
         FROM events GROUP BY 1, 2)
       WHERE rank <= 3"""

  /** Shared oracle for both 5-minute range self-join forms (plain and
    * band-bucketed). */
  private val rangeJoinOracle =
    """SELECT a.user_id AS user_id, a.event_id AS a_event_id, b.event_id AS b_event_id
       FROM events a JOIN events b ON a.user_id = b.user_id
       AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
       AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 5 MINUTE"""

  /** Shared oracle for both distinct-count error gates (HLL++ and the
    * merged datasketches HLL): the exact count per type, the gate TRUE. */
  private val distinctBoundsOracle =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS within_bounds
       FROM events GROUP BY event_type"""

  /** Shared oracle for both sessionize forms (window and skew-safe): a new
    * session after a gap of more than 30 minutes. */
  private val sessionizeOracle =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
         FROM events),
       l AS (SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         FROM e),
       n AS (SELECT event_id, user_id, ts,
         CASE WHEN prev IS NULL
              OR epoch_us(ts) - epoch_us(prev) > 1800000000
              THEN 1 ELSE 0 END AS nw FROM l)
       SELECT event_id, user_id,
         CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
       FROM n"""

  /** Shared oracle for both canonical exact-dedup forms (text-keyed and
    * fingerprint-keyed): per normalized text the longest raw text wins,
    * ties to the smaller doc_id. */
  private val exactCanonicalOracle =
    s"""WITH t AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS q,
         $normSql AS norm FROM documents),
       r AS (SELECT doc_id, norm,
         row_number() OVER (PARTITION BY norm ORDER BY q DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY norm) AS dup_count FROM t)
       SELECT doc_id, CAST(dup_count AS BIGINT) AS dup_count
       FROM r WHERE rn = 1"""

  /** Shared oracle for the PNG and JPEG pixel-exact resize gates. */
  private val pixelsExactOracle = "SELECT doc_id AS media_id, TRUE AS pixels_exact FROM documents"

  /** Shared oracle for both multi-benchmark decontamination forms (join and
    * stateless-literal): identical matched-pair reports by construction —
    * Spark keys grams by xxhash64, this SQL by literal strings. */
  private val batchDecontaminateOracle: String = trigramCtes(normCte) + """,
       bench AS (SELECT DISTINCT bench_id, gram FROM (
         SELECT doc_id % 3 AS bench_id, unnest(grams) AS gram FROM g
         WHERE doc_id % 20 = 0) b0),
       cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 20 <> 0)
       SELECT cg.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS matched_grams
       FROM cg JOIN bench b USING (gram) GROUP BY 1, 2"""

  /** `corp(doc_id, grams)`, the corpus docs (doc_id % 20 <> 0), and
    * `hits(doc_id, m)`, each one's 3-grams found in the benchmark docs —
    * shared by the exact, stateless and Bloom decontamination oracles. */
  private val decontaminateCtes: String = trigramCtes(normCte) + """,
       bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 0),
       corp AS (SELECT doc_id, grams FROM g WHERE doc_id % 20 <> 0),
       cg AS (SELECT doc_id, unnest(grams) AS gram FROM corp),
       hits AS (SELECT cg.doc_id, count(b.gram) AS m
         FROM cg LEFT JOIN bench b USING (gram) GROUP BY cg.doc_id)"""

  /** Shared oracle for both decontamination forms (join and stateless). */
  private val decontaminateOracle: String = decontaminateCtes + """
       SELECT c.doc_id, CAST(coalesce(h.m, 0) AS BIGINT) AS matched_grams,
         coalesce(h.m, 0) > 0 AS contaminated
       FROM corp c LEFT JOIN hits h USING (doc_id)"""

  /** `multimodal_wav_spectrum`'s fixed-point twiddle tables, shared between
    * the operator call and its oracle SQL: the DuckDB side gets the SAME
    * integers as `(bin, cos-list, sin-list)` VALUES literals, so both sides
    * multiply identical table entries by construction — never trusting two
    * libm `cos` implementations to round alike. */
  private val wavSpecBins = Seq(1, 2, 4, 8)
  private val wavSpecValuesSql: String = {
    val (ct, sn) = Multimodal.goertzelTables(32, wavSpecBins, 12)
    wavSpecBins.indices.map { i =>
      s"(${wavSpecBins(i)}, ${ct(i).mkString("[", ", ", "]")}, " +
        s"${sn(i).mkString("[", ", ", "]")})"
    }.mkString(", ")
  }

  /** `multimodal_wav_resample`'s fixed-point anti-alias FIR taps as a DuckDB
    * list literal — same sharing discipline as [[wavSpecValuesSql]]. */
  private val firTapsSql: String =
    Multimodal.firLowpassTaps(2, 7, 12).mkString("[", ", ", "]")

  /** ONE home for the dHash oracle arithmetic (the winnowSelCtes
    * discipline), shared by `multimodal_dhash` / `dedup_image_clusters` /
    * `w_stream_image_clusters`: recomputes every bit of the 9×8 difference
    * hash from the fixture pixel formula seeded by `seedExpr`, yielding a
    * `hashes` CTE of (doc_id, w, h, dhash_hi, dhash_lo) — a fix to the bit
    * or sampling arithmetic lands in all three gates at once. */
  private def dHashCtes(seedExpr: String): String =
    s"""WITH d AS (SELECT doc_id, $seedExpr AS seed,
          (($seedExpr) % 23) + 4 AS w, (($seedExpr) % 17) + 4 AS h FROM documents),
        b AS (SELECT doc_id, seed, w, h, unnest(generate_series(0, 63)) AS k FROM d),
        v AS (SELECT doc_id, seed, w, h, k,
          CASE WHEN
            (seed * 31 + ((((k // 8) * h) // 8) // 8) * 37 + (((((k % 8) + 1) * w) // 9) // 8) * 11) % 251
          > (seed * 31 + ((((k // 8) * h) // 8) // 8) * 37 + ((((k % 8) * w) // 9) // 8) * 11) % 251
          THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
          FROM b),
        hashes AS (SELECT doc_id, w, h,
          CAST(sum(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS dhash_hi,
          CAST(sum(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS dhash_lo
          FROM v GROUP BY doc_id, w, h)"""

  /** The cluster SELECT over [[dHashCtes]]'s `hashes` — shared verbatim by
    * the batch and streaming image-cluster gates. */
  private val dHashClusterSelect: String =
    """
        SELECT dhash_hi, dhash_lo, CAST(count(*) AS BIGINT) AS n_images,
          CAST(min(doc_id) AS BIGINT) AS canonical_id
        FROM hashes GROUP BY dhash_hi, dhash_lo"""

  /** The persisted-index probe SELECT over [[dHashCtes]]'s `hashes` —
    * recomputes the 4×16 band keys (`bkey` = band·2¹⁶ + slice, exactly
    * Multimodal.dHashBandRows' arithmetic), the df bound, the band-join
    * candidates, and the exact bit_count Hamming verify — shared by the
    * build/probe and lifecycle gates so both prove the same contract. */
  private val dHashIndexCtes: String =
    """,
        bands AS (SELECT doc_id, dhash_hi, dhash_lo,
          unnest([dhash_lo & 65535, ((dhash_lo >> 16) & 65535) + 65536,
            (dhash_hi & 65535) + 131072,
            ((dhash_hi >> 16) & 65535) + 196608]) AS bkey FROM hashes),
        baseb AS (SELECT * FROM bands WHERE doc_id % 20 <> 0),
        batchb AS (SELECT * FROM bands WHERE doc_id % 20 = 0),
        good AS (SELECT bkey FROM baseb GROUP BY bkey HAVING count(*) <= 1000)"""

  private val dHashIndexProbeSelect: String = dHashIndexCtes + """
        SELECT DISTINCT batchb.doc_id AS batch_id, baseb.doc_id AS base_id,
          CAST(bit_count(xor(batchb.dhash_hi, baseb.dhash_hi)) +
            bit_count(xor(batchb.dhash_lo, baseb.dhash_lo)) AS BIGINT) AS hamming
        FROM batchb JOIN baseb USING (bkey) JOIN good USING (bkey)
        WHERE bit_count(xor(batchb.dhash_hi, baseb.dhash_hi)) +
          bit_count(xor(batchb.dhash_lo, baseb.dhash_lo)) <= 3"""

  /** The flagged-ONCE select over [[dHashIndexCtes]] — the streaming image
    * gate's settled output: each matching probe image exactly once, with
    * its hash (the hash columns make the driver compare bit-precise). */
  private val dHashIndexMatchSelect: String = dHashIndexCtes + """
        SELECT DISTINCT batchb.doc_id AS media_id,
          batchb.dhash_hi, batchb.dhash_lo
        FROM batchb JOIN baseb USING (bkey) JOIN good USING (bkey)
        WHERE bit_count(xor(batchb.dhash_hi, baseb.dhash_hi)) +
          bit_count(xor(batchb.dhash_lo, baseb.dhash_lo)) <= 3"""

  /** Segment CTEs shared by the three boilerplate-removal oracles: the planted
    * fixture (every doc gains one corpus-wide banner sentence + its doc_id%3
    * group either shares a second sentence or gets a unique tail), segmented
    * exactly like [[graft.operators.Dedup.segmentsCol]] (split ". ", trim
    * '.'/' ' edges, drop empties), and the df >= 10 frequency table. */
  private val boilerplateSegCtes: String =
    """WITH aug AS (SELECT doc_id, text || '. subscribe to zq newsletter now. ' ||
         CASE WHEN doc_id % 3 = 0 THEN 'zq group sentence alpha'
              ELSE 'tail ' || CAST(doc_id AS VARCHAR) END AS text
         FROM documents),
       t AS (SELECT doc_id, list_filter(list_transform(
           string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '. '),
           s -> trim(s, '. ')), s -> len(s) > 0) AS segs FROM aug),
       f AS (SELECT seg FROM (SELECT DISTINCT doc_id, unnest(segs) AS seg FROM t) d0
         GROUP BY seg HAVING count(*) >= 10)"""

  /** The planted boilerplate corpus the three pipeline_*boilerplate* entries
    * run on — mirrors the `aug` CTE of [[boilerplateSegCtes]] exactly. */
  private def boilerplateFixture(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), lit(". subscribe to zq newsletter now. "),
        when(col("doc_id") % 3 === 0, lit("zq group sentence alpha"))
          .otherwise(concat(lit("tail "), col("doc_id").cast("string")))).as("text"))

  /** Shared oracle for BOTH frequent-segment removal forms (two-pass join and
    * frozen-model stateless): identical cleaned text by construction — the
    * stateless form keys segments by xxhash64, this SQL by literal strings, so
    * the driver hash-match doubles as the form-equivalence proof. */
  private val boilerplateRemovalOracle: String =
    boilerplateSegCtes + """,
       fl AS (SELECT coalesce(list(seg), []) AS freq FROM f)
       SELECT doc_id,
         array_to_string(list_filter(t.segs, s -> NOT list_contains(fl.freq, s)), '. ') AS text_cleaned,
         CAST(len(t.segs) - len(list_filter(t.segs, s -> NOT list_contains(fl.freq, s))) AS BIGINT) AS n_segments_removed
       FROM t, fl"""

  /** Kneser-Ney self-scored tertile CTEs shared by the KN-score,
    * perplexity-bucket and curriculum-order oracles: bigram KN probabilities,
    * per-doc mean log
    * score rounded to 6, tertile thresholds (quantile_cont ≡ Spark's exact
    * `percentile`, both rounded to 6 before the boundary compare). */
  private val knBucketCtes: String = bigramCtes + """,
       cb AS (SELECT bg, count(*) AS c_bg,
           string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
         FROM b GROUP BY bg),
       ls AS (SELECT w1, sum(c_bg) AS c_w1, count(*) AS n1p_w1
         FROM cb GROUP BY w1),
       rs AS (SELECT w2, count(*) AS n1p_w2,
           sum(count(*)) OVER () AS n_types
         FROM cb GROUP BY w2),
       m AS (SELECT bg,
           (c_bg - 0.75) / c_w1 + 0.75 * n1p_w1 / c_w1 *
             (CAST(n1p_w2 AS DOUBLE) / n_types) AS p_kn
         FROM cb JOIN ls USING (w1) JOIN rs USING (w2)),
       s AS (SELECT doc_id, count(*) AS n_bigrams,
           round(avg(ln(p_kn)), 6) AS kn_score
         FROM b JOIN m USING (bg) GROUP BY doc_id),
       th AS (SELECT
           round(quantile_cont(kn_score, 0.3333333333333333), 6) AS t0,
           round(quantile_cont(kn_score, 0.6666666666666666), 6) AS t1
         FROM s),
       pb AS (SELECT doc_id, n_bigrams, kn_score,
           CAST(3 - (CASE WHEN kn_score > t0 THEN 1 ELSE 0 END +
                     CASE WHEN kn_score > t1 THEN 1 ELSE 0 END) AS BIGINT) AS ppl_bucket
         FROM s, th)"""

  /** Frozen seed centroids for the cluster-balance entries: the vec_id < 8
    * embeddings, ids 0..7 — deterministic and DuckDB-replayable (a fitted
    * k-means model would not be); model-scale collect. */
  private def clusterSeeds(s: SparkSession, d: String): Seq[(Int, Seq[Double])] =
    Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int"),
        graft.functions.VectorFns.toDoubleArray(col("embedding")))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq

  /** Assignment CTEs for both cluster-balance oracles: dot-product
    * argmax against the vec_id < 8 seed vectors, ties to the LARGER seed id
    * (the NearestCentroidExpr contract), prototypicality dot rounded to the
    * 6-decimal cross-engine sim key. */
  private val clusterAssignCtes: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       seeds AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM e WHERE vec_id < 8),
       sc AS (SELECT e.vec_id, seeds.cid,
           list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(e.v)),
             i -> e.v[i] * seeds.c[i])), (acc, x) -> acc + x) AS dot
         FROM e CROSS JOIN seeds),
       asg AS (SELECT vec_id, cid, dot,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid DESC) AS rn
         FROM sc),
       a AS (SELECT vec_id, cid AS cluster_id, round(dot, 6) AS pdot FROM asg WHERE rn = 1)"""

  /** Oracle of a cluster-balance entry: per [[clusterAssignCtes]] cluster,
    * the 40 vectors first by `order` (ties to the smaller vec_id). */
  private def clusterKeepOracle(order: String): String = clusterAssignCtes + s""",
       r AS (SELECT vec_id, cluster_id,
           row_number() OVER (PARTITION BY cluster_id ORDER BY $order ASC,
             vec_id ASC) AS keep_rank FROM a)
       SELECT vec_id, cluster_id, CAST(keep_rank AS BIGINT) AS keep_rank
       FROM r WHERE keep_rank <= 40"""

  /** Winnowing CTEs shared by the fingerprint and pair oracles: 5-gram hashes
    * keyed by the first 15 hex digits of md5 (60 bits — exact in both
    * engines), windows of 4, rightmost-minimum selection (the reversed-list
    * list_position picks the LAST argmin), distinct (pos, fp) per doc. */
  private val winnowSelCtes: String = tokensCte + """,
       g AS (SELECT doc_id,
           list_transform(generate_series(1, len(toks) - 4),
             i -> CAST(('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15)) AS BIGINT)) AS hs
         FROM t WHERE len(toks) >= 5),
       sel AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(hs) - 3),
           i -> struct_pack(
             pos := i + (4 - list_position(list_reverse(hs[i:i+3]), list_min(hs[i:i+3]))) - 1,
             fp := list_min(hs[i:i+3])))) AS u
         FROM g WHERE len(hs) >= 4),
       fps AS (SELECT DISTINCT doc_id, CAST(u.pos AS INT) AS pos, u.fp AS fp FROM sel)"""

  /** Shared oracle for every batch-vs-base winnow entry (in memory, on disk,
    * and each index lifecycle step): batch docs are doc_id % 20 = 0, base
    * fingerprints with df over 1000 are skipped, pairs share >= 3. */
  private val winnowBatchPairsOracle: String = winnowSelCtes + """,
       basef AS (SELECT DISTINCT doc_id, fp FROM fps WHERE doc_id % 20 <> 0),
       batchf AS (SELECT DISTINCT doc_id, fp FROM fps WHERE doc_id % 20 = 0),
       good AS (SELECT fp FROM basef GROUP BY fp HAVING count(*) <= 1000)
       SELECT batchf.doc_id AS batch_id, basef.doc_id AS base_id,
         CAST(count(*) AS BIGINT) AS shared_fps
       FROM batchf JOIN basef USING (fp) JOIN good USING (fp)
       GROUP BY 1, 2 HAVING count(*) >= 3"""

  /** Containment oracle over the `t(doc_id, norm)` corpus CTE `normT`:
    * directed 3-gram containment >= 0.8 of every pair sharing a gram with
    * df in [2, `maxDf`]. Both containment forms are bit-identical to it —
    * the base form at maxDf 20 on the raw fixture (max gram df = 7), the
    * positional-prefix form at maxDf 1000 on its planted corpus (see
    * [[graft.operators.Dedup.containmentPairsPrefix]]). */
  private def containmentOracle(normT: String, maxDf: Int): String = trigramCtes(normT) + s""",
       ne AS (SELECT * FROM g WHERE len(grams) > 0),
       sz AS (SELECT doc_id, CAST(len(grams) AS DOUBLE) AS n_grams FROM ne),
       post AS (SELECT doc_id, unnest(grams) AS gram FROM ne),
       keep AS (SELECT gram FROM (SELECT gram, count(*) AS df FROM post GROUP BY gram)
                WHERE df BETWEEN 2 AND $maxDf),
       bounded AS (SELECT p.doc_id, p.gram FROM post p JOIN keep k ON p.gram = k.gram),
       inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(count(*) AS DOUBLE) AS inter
         FROM bounded a JOIN bounded b
           ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
       sc AS (SELECT i.a_id, i.b_id, i.inter / sa.n_grams AS c_ab,
           i.inter / sb.n_grams AS c_ba
         FROM inter i JOIN sz sa ON sa.doc_id = i.a_id
         JOIN sz sb ON sb.doc_id = i.b_id)
       SELECT a_id AS contained_id, b_id AS container_id, c_ab AS containment
       FROM sc WHERE c_ab >= 0.8
       UNION ALL
       SELECT b_id, a_id, c_ba FROM sc WHERE c_ba >= 0.8"""

  // ------------------------------------------------------------------
  // Oracle-checked quality gates: the spec-level
  // recall / agreement / bit-equality gates, promoted into the driver
  // record through the proven bounds-gate pattern (q_sketch_reagg_bounds):
  // Spark computes the quality metric AND its boolean verdict, every
  // other output column is exactly recomputable by DuckDB, and the oracle
  // expects TRUE — so a quality regression (recall dip, persisted/in-memory
  // divergence, stream/batch split) fails the driver's hash compare, not
  // just a ScalaTest assertion.
  //
  // Scale note: the EXACT twins inside these gates (brute-force top-k,
  // all-pairs cosine, unblocked Jaccard truth) are fixture-scale VALIDATION
  // machinery, not production dataflow — at 100 TB the same gates run over a
  // hash-sampled slice (Ops.hashSample keeps them deterministic), exactly as
  // a production recall monitor samples its ground truth. The approximate
  // operators under test are the scale path; PlanSpec pins their plans in
  // operator form.
  // ------------------------------------------------------------------

  /** Materialize a gate input once. Checkpointing every gate input (measured,
    * then mostly retired) looked like the KN/NB one-scan
    * discipline, but Spark's ReuseExchange/ReuseSubquery already dedups the
    * identical exchange subtrees a gate's 2–3 references create inside ONE
    * plan — the measured effect of blanket gate checkpoints was a 0.5–1.4 s
    * REGRESSION per gate query at sf0.1 (extra jobs + barriers, no saved
    * work). Kept only for inputs that cross separate ACTIONS (where exchange
    * reuse cannot apply). Frames that are already materialized pass through
    * untouched. */
  private def gateCkpt(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => df
      case _ => df.localCheckpoint(true)
    }

  /** Single-row multiset-equality probe of two result sets (exceptAll both
    * ways) — the driver-visible form of a "stream ≡ batch" / "persisted ≡
    * in-memory" spec pin. Column `__eq`; callers rename. The two directions'
    * duplicate subtrees share work through exchange reuse — do NOT
    * checkpoint here (measured regression, see [[gateCkpt]]). */
  private def multisetEqualCol(a: DataFrame, b: DataFrame): DataFrame = {
    val d1 = a.exceptAll(b).agg(count(lit(1)).as("__d1"))
    val d2 = b.exceptAll(a).agg(count(lit(1)).as("__d2"))
    d1.crossJoin(d2).select((col("__d1") === 0 && col("__d2") === 0).as("__eq"))
  }

  /** Mean recall@k of an approximate top-k against its exact twin, one row:
    * (n_queries, n_results, recall_ok). n_queries and n_results are exact —
    * every query keeps k results whenever its candidate pool covers k, which
    * the fixtures guarantee — so DuckDB recomputes both; recall_ok gates
    * hits / (k·n_queries) at `floor` (the spec-measured operating point). */
  private def topkRecallGate(exact: DataFrame, approx: DataFrame, k: Int,
                             floor: Double): DataFrame = {
    val e = exact.select(col("query_id"), col("vec_id"))
    val a = approx.select(col("query_id"), col("vec_id"))
    val hits = a.join(e, Seq("query_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    a.agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_results"))
      .crossJoin(hits)
      .select(col("n_queries"), col("n_results"),
        (col("__hits") >= lit(floor) * col("n_queries") * k).as("recall_ok"))
  }

  /** Bit-equality of a persisted-index probe against its in-memory twin, one
    * row: (n_queries, n_results, persisted_equals_memory). */
  private def persistedEqualityGate(persisted: DataFrame, memory: DataFrame): DataFrame =
    persisted.agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_results"))
      .crossJoin(multisetEqualCol(persisted, memory))
      .select(col("n_queries"), col("n_results"),
        col("__eq").as("persisted_equals_memory"))

  /** Pair recall (and optionally precision-exactly-1) of an approximate
    * candidate-pair set against the exact truth, one row:
    * (n_true_pairs, recall_ok[, precision_one]). n_true_pairs is exact and
    * DuckDB-recomputed from the same truth definition. */
  private def pairRecallGate(truth: DataFrame, got: DataFrame, floor: Double,
                             withPrecision: Boolean = false): DataFrame = {
    // UNLIKE the top-k gates (whose inputs end in a heap-aggregation
    // exchange that ReuseExchange collapses across the gate's references),
    // pair sets end in join+filter — NOT exchange-terminated — so the
    // truth's expensive pair scan would re-run once per reference (3× with
    // precision). Checkpoint the bounded pair lists once (measured:
    // the pair gates were the one family where the gate checkpoint WON).
    val t = gateCkpt(truth.select(col("a_id"), col("b_id")))
    val g =
      if (withPrecision) gateCkpt(got.select(col("a_id"), col("b_id")))
      else got.select(col("a_id"), col("b_id"))
    val hits = t.join(g, Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    val base = t.agg(count(lit(1)).as("n_true_pairs")).crossJoin(hits)
    val cols0 = Seq(col("n_true_pairs"),
      (col("__hits") >= lit(floor) * col("n_true_pairs")).as("recall_ok"))
    if (!withPrecision) base.select(cols0: _*)
    else {
      val extra = g.join(t, Seq("a_id", "b_id"), "left_anti")
        .agg(count(lit(1)).as("__extra"))
      base.crossJoin(extra)
        .select(cols0 :+ (col("__extra") === 0).as("precision_one"): _*)
    }
  }

  /** Shared oracle for both curation-audit forms (text-keyed and
    * fingerprint-keyed — verdicts identical barring 64-bit collision). */
  private val curateAuditOracle: String = langScoredCtes + """,
      g AS (SELECT doc_id, norm,
        CASE WHEN pred_lang != 'en' THEN 'lang'
             WHEN n_tokens < 20 THEN 'too_short'
             WHEN avg_token_len > 5.0 THEN 'token_len' END AS reason
        FROM l),
      sv AS (SELECT norm, min(doc_id) AS survivor_id FROM g
        WHERE reason IS NULL GROUP BY norm)
      SELECT g.doc_id,
        coalesce(g.reason, CASE WHEN g.doc_id = sv.survivor_id THEN 'kept'
          ELSE 'duplicate' END) AS verdict,
        CASE WHEN g.reason IS NULL AND g.doc_id != sv.survivor_id
          THEN sv.survivor_id END AS survivor_id
      FROM g LEFT JOIN sv USING (norm)"""

  // ------------------------------------------------------------------
  // §2.1 sources/scans + §2.2 projections/filters/scalars
  // ------------------------------------------------------------------
  private val scanQueries = Seq(
    Q("s6_point_read",
      (s, d) => Tables.customer(s, d)
        .filter(col("c_custkey") === 42)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
      Some("""SELECT c_custkey, c_name, c_mktsegment, c_acctbal
              FROM customer WHERE c_custkey = 42""")),

    Q("s7_recent_scan",
      (s, d) => Views.recentTopN(Tables.events(s, d), 10),
      Some("""SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id LIMIT 10""")),

    Q("s2_json_decode",
      (s, d) => Tables.events(s, d)
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast("int").as("k")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
              FROM events""")),

    Q("s_queue_decode", // S1 transport shape: kafka-framed bytes -> full-schema
      // from_json decode (cassandra_subscriber.py:102-113); round trip must
      // preserve every typed column incl. µs event time and the nested payload
      (s, d) => QueueIngest.decodeFrames(QueueIngest.encodeFrames(Tables.events(s, d)))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          col("value"), col("props.k").as("k")),
      Some("""SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events""")),

    Q("s_queue_decode_dlq", // corrupt-body routing: bodies truncated for every
      // 100th event must land in the dead-letter side, never be dropped, and
      // never crash the decode (the reference's un-guarded json.loads would)
      (s, d) => {
        val framed = QueueIngest.encodeFrames(Tables.events(s, d))
        val corrupted = framed.withColumn("value",
          when(col("offset") % 100 === 0,
            col("value").cast("string")
              .substr(lit(1), length(col("value").cast("string")) - 5).cast("binary"))
            .otherwise(col("value")))
        QueueIngest.decodeFramesWithDlq(corrupted)
          .groupBy(col("is_valid")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT (event_id % 100 <> 0) AS is_valid, count(*) AS n
              FROM events GROUP BY 1""")),

    Q("s3_event_time",
      (s, d) => Tables.events(s, d)
        .select(col("event_id"), date_trunc("second", col("ts")).as("ts_sec")),
      Some("""SELECT event_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts_sec
              FROM events""")),

    Q("p1_projection",
      (s, d) => Tables.events(s, d).select("event_id", "user_id", "event_type"),
      Some("SELECT event_id, user_id, event_type FROM events")),

    Q("p2_wide_projection",
      (s, d) => Tables.lineitem(s, d).select(
        col("l_orderkey").as("order_key"), col("l_partkey").as("part_key"),
        col("l_suppkey").as("supp_key"), col("l_linenumber").as("line_number"),
        col("l_quantity").as("quantity"), col("l_extendedprice").as("extended_price"),
        col("l_discount").as("discount"), col("l_tax").as("tax"),
        col("l_returnflag").as("return_flag"), col("l_linestatus").as("line_status"),
        col("l_shipdate").as("ship_date")),
      Some("""SELECT l_orderkey AS order_key, l_partkey AS part_key, l_suppkey AS supp_key,
              l_linenumber AS line_number, l_quantity AS quantity,
              l_extendedprice AS extended_price, l_discount AS discount, l_tax AS tax,
              l_returnflag AS return_flag, l_linestatus AS line_status,
              CAST(l_shipdate AS TIMESTAMP) AS ship_date FROM lineitem""")),

    Q("p3_eq_filter",
      (s, d) => Tables.events(s, d).filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "value"),
      Some("SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'")),

    Q("p4_composite_filter",
      (s, d) => Tables.events(s, d)
        .filter(col("event_type") === "signup" && col("user_id") === 7)
        .select("event_id", "user_id", "ts", "value"),
      Some("""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events WHERE event_type = 'signup' AND user_id = 7""")),

    Q("p5_stream_router",
      (s, d) => {
        val e = Tables.events(s, d)
        val a = e.filter(col("event_type") === "signup")
          .select(lit("signup").as("branch"), col("event_id"), col("user_id"))
        val b = e.filter(col("event_type") === "purchase")
          .select(lit("purchase").as("branch"), col("event_id"), col("user_id"))
        a.unionAll(b)
      },
      Some("""SELECT 'signup' AS branch, event_id, user_id FROM events WHERE event_type = 'signup'
              UNION ALL
              SELECT 'purchase' AS branch, event_id, user_id FROM events WHERE event_type = 'purchase'""")),

    Q("p6_date_parse",
      (s, d) => Tables.orders(s, d).select(col("o_orderkey"),
        to_date(date_format(col("o_orderdate"), "yyyy-MM-dd"), "yyyy-MM-dd").as("order_date")),
      Some("""SELECT o_orderkey, CAST(strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS DATE) AS order_date
              FROM orders""")),

    Q("p7_iso_format",
      (s, d) => Tables.events(s, d).select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("iso_ts")),
      Some("""SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS iso_ts
              FROM events""")),

    Q("p8_time_buckets",
      (s, d) => Tables.events(s, d).select(col("event_id"),
        Ops.hourBucket(col("ts")).as("hour_bucket"),
        Ops.dayBucket(col("ts")).as("day_bucket"),
        Ops.min5Bucket(col("ts")).as("min5_bucket")),
      Some("""SELECT event_id,
              strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') AS hour_bucket,
              strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS day_bucket,
              strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') ||
                lpad(CAST((minute(CAST(ts AS TIMESTAMP)) // 5) * 5 AS VARCHAR), 2, '0') AS min5_bucket
              FROM events""")),

    Q("p9_key_concat_split",
      (s, d) => Tables.events(s, d).select(col("event_id"),
        Ops.bucketKey("hourly", Ops.hourBucket(col("ts"))).as("bucket_key"))
        .withColumn("bucket_part", element_at(split(col("bucket_key"), ":"), 2)),
      Some("""SELECT event_id,
              'hourly:' || strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') AS bucket_key,
              string_split('hourly:' || strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H'), ':')[2] AS bucket_part
              FROM events""")),

    Q("p10_dict_decode",
      (s, d) => Ops.enrichLookup(
        Tables.nation(s, d), Tables.region(s, d).withColumnRenamed("r_regionkey", "n_regionkey"),
        Seq("n_regionkey"), Map("r_name" -> lit("Unknown")))
        .select(col("n_nationkey"), col("n_name"), col("r_name").as("region_name")),
      Some("""SELECT n_nationkey, n_name, coalesce(r_name, 'Unknown') AS region_name
              FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""")),

    Q("p12_null_default",
      (s, d) => {
        val counts = Tables.customer(s, d).groupBy(col("c_nationkey").as("n_nationkey"))
          .agg(count(lit(1)).as("cnt"))
        Tables.nation(s, d).join(counts, Seq("n_nationkey"), "left")
          .select(col("n_nationkey"), col("n_name"),
            coalesce(col("cnt"), lit(0L)).as("customer_cnt"))
      },
      Some("""SELECT n_nationkey, n_name, coalesce(c.cnt, 0) AS customer_cnt
              FROM nation LEFT JOIN
              (SELECT c_nationkey, count(*) AS cnt FROM customer GROUP BY 1) c
              ON n_nationkey = c_nationkey""")))

  // ------------------------------------------------------------------
  // §2.3 joins + §2.4 aggregations + §2.5 top-K (the 5 reference views)
  // ------------------------------------------------------------------
  private val viewQueries = Seq(
    Q("j1_enrich_lookup",
      (s, d) => {
        val dim = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("user_id"), col("c_name"))
        Ops.enrichLookup(Tables.events(s, d).select("event_id", "user_id"), dim,
          Seq("user_id"), Map("c_name" -> lit("Unknown")))
          .select(col("event_id"), col("user_id"), col("c_name").as("customer_name"))
      },
      Some("""SELECT e.event_id, e.user_id, coalesce(c.c_name, 'Unknown') AS customer_name
              FROM events e LEFT JOIN
              (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING') c
              ON e.user_id = c.c_custkey"""), headline = true),

    Q("a1_hour_counts",
      (s, d) => Views.hourCounts(Tables.events(s, d)),
      Some(hourTypeCountsOracle), headline = true),

    Q("a2_bucket_counts",
      (s, d) => Views.multiGranularityCounts(Tables.events(s, d)),
      Some(bucketCountsOracle), headline = true),

    Q("a3_hour_totals",
      (s, d) => Views.hourTotals(Tables.events(s, d)),
      Some("""WITH h AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') AS hour_bucket,
                event_type, count(*) AS cnt FROM events GROUP BY 1, 2)
              SELECT hour_bucket, CAST(sum(cnt) AS BIGINT) AS total FROM h GROUP BY 1""")),

    Q("a4_latest_per_key",
      (s, d) => Views.latestInfo(Tables.events(s, d))
        .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
              FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn FROM events)
              WHERE rn = 1"""), headline = true),

    Q("s5_counter_lookup",
      (s, d) => Views.counterLookup(Tables.events(s, d), "hourly", "hourly:2024010100"),
      Some("""SELECT count(*) AS cnt FROM events
              WHERE 'hourly:' || strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') = 'hourly:2024010100'""")),

    Q("s_geo_distribution", // realtime_api.py:186-228 — per-city rows + total
      (s, d) => Endpoints.geoDistributionHourly(Tables.events(s, d),
        "2024010110", "purchase"),
      Some("""WITH g AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') AS hour_bucket,
                event_type AS country, CAST(json_extract_string(props, '$.k') AS BIGINT) AS city,
                count(*) AS new_customers_count
              FROM events GROUP BY 1, 2, 3)
              SELECT hour_bucket, country, city, new_customers_count,
                CAST(SUM(new_customers_count) OVER (PARTITION BY hour_bucket, country) AS BIGINT)
                  AS total_in_hour_for_country
              FROM g WHERE hour_bucket = '2024010110' AND country = 'purchase'""")),

    Q("t2_topn_per_group",
      (s, d) => Views.trendsTopNPerGroup(Tables.events(s, d), 10)
        .withColumn("rn", col("rn").cast("long")),
      Some("""SELECT event_id, user_id, event_type, ts, rn FROM
              (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id) AS rn FROM events)
              WHERE rn <= 10"""), headline = true))

  // ------------------------------------------------------------------
  // general relational closure (SURVEY.md §7.2 step 3)
  // ------------------------------------------------------------------
  private val relationalQueries = Seq(
    Q("q1_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
              count(*) AS count_order
              FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              GROUP BY l_returnflag, l_linestatus"""), headline = true),

    Q("q5_region_revenue", // TPC-H Q5 shape: 6-table join chain — Catalyst prunes,
      // reorders, and broadcasts the small dims; the fact scan shuffles once
      (s, d) => {
        val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
        val o = Tables.orders(s, d).filter(
          col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        r.join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
          .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
          .join(o, col("o_custkey") === col("c_custkey"))
          .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.supplier(s, d),
            col("s_suppkey") === col("l_suppkey") && col("s_nationkey") === col("c_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
      },
      Some("""SELECT n_name,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
              FROM region JOIN nation ON n_regionkey = r_regionkey
              JOIN customer ON c_nationkey = n_nationkey
              JOIN orders ON o_custkey = c_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
              WHERE r_name = 'ASIA' AND o_orderdate >= DATE '1996-01-01'
                AND o_orderdate < DATE '1997-01-01'
              GROUP BY n_name""")),

    Q("q3_join_topn",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
        val l = Tables.lineitem(s, d)
        val j = c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
        Ops.topN(j, 10, Seq(col("revenue").desc, col("o_orderkey").asc))
      },
      Some("""SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
              FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
              WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              GROUP BY o_orderkey, o_orderdate
              ORDER BY revenue DESC, o_orderkey LIMIT 10"""), headline = true),

    Q("q_semi_join",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer c
              WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"""), headline = true),

    Q("q_anti_join",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""")),

    Q("q_set_ops",
      (s, d) => {
        val e = Tables.events(s, d)
        def ids(t: String) = e.filter(col("event_type") === t).select("user_id")
        ids("signup").intersect(ids("purchase")).except(ids("error"))
      },
      Some("""SELECT user_id FROM
              (SELECT user_id FROM events WHERE event_type = 'signup'
               INTERSECT
               SELECT user_id FROM events WHERE event_type = 'purchase')
              EXCEPT
              SELECT user_id FROM events WHERE event_type = 'error'""")),

    Q("q_set_ops_all", // multiset (ALL) set-op closure: duplicates preserved
      (s, d) => {
        val e = Tables.events(s, d)
        def ids(t: String) = e.filter(col("event_type") === t).select("user_id")
        ids("view").exceptAll(ids("purchase"))
      },
      Some("""SELECT user_id FROM events WHERE event_type = 'view'
              EXCEPT ALL
              SELECT user_id FROM events WHERE event_type = 'purchase'""")),

    Q("q_full_outer_join", // outer-join closure: per-user signup vs purchase
      // counts, either side may be absent — null counts survive to the output
      (s, d) => {
        val e = Tables.events(s, d)
        def cnt(t: String, as: String) = e.filter(col("event_type") === t)
          .groupBy("user_id").agg(count(lit(1)).as(as))
        cnt("signup", "signups").join(cnt("purchase", "purchases"),
            Seq("user_id"), "full_outer")
          .select("user_id", "signups", "purchases")
      },
      Some("""SELECT COALESCE(a.user_id, b.user_id) AS user_id, a.signups, b.purchases
              FROM (SELECT user_id, count(*) AS signups FROM events
                    WHERE event_type = 'signup' GROUP BY user_id) a
              FULL OUTER JOIN
                   (SELECT user_id, count(*) AS purchases FROM events
                    WHERE event_type = 'purchase' GROUP BY user_id) b
              ON a.user_id = b.user_id""")),

    Q("q_cross_join", // explicit Cartesian closure (region x nation grid) —
      // the ONLY place a cross product is legitimate: two tiny dimensions
      (s, d) => Tables.region(s, d).select(col("r_name"))
        .crossJoin(Tables.nation(s, d).select(col("n_name"))),
      Some("SELECT r_name, n_name FROM region CROSS JOIN nation")),

    Q("q_distinct_agg",
      (s, d) => Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("uniq_users"), count(lit(1)).as("n")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS uniq_users, count(*) AS n
              FROM events GROUP BY event_type""")),

    Q("q_distinct_agg_skewsafe", // two-stage form — same oracle as countDistinct
      (s, d) => Ops.distinctCountSkewSafe(Tables.events(s, d),
        "event_type", "user_id", as = "uniq_users"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS uniq_users
              FROM events GROUP BY event_type""")),

    Q("q_salted_agg", // deterministic-salt two-stage agg — same result as direct groupBy
      (s, d) => Ops.saltedSumCount(Tables.events(s, d), Seq("event_type"),
          dec6(col("value")), col("event_id"), salts = 16)
        .select(col("event_type"), col("sum_v").cast("double").as("sum_v"), col("cnt")),
      Some("""SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
              count(*) AS cnt FROM events GROUP BY event_type""")),

    Q("q_salted_join", // skew-safe equi-join twin of q_salted_agg: the fact
      // side salts on event_id into 8 buckets, the dim replicates per salt,
      // the join runs on (key, salt) — a hot user's rows spread over 8 tasks;
      // output exactly the plain inner join
      (s, d) => Ops.saltedJoin(
        Tables.events(s, d).select(col("event_id"), col("user_id")),
        Tables.customer(s, d).select(col("c_custkey").as("user_id"), col("c_name")),
        "user_id", salts = 8, saltSource = col("event_id")),
      Some("""SELECT user_id, event_id, c_name FROM
              (SELECT event_id, user_id FROM events) e
              JOIN (SELECT c_custkey AS user_id, c_name FROM customer) c
              USING (user_id)""")),

    Q("q_multi_distinct", // two distinct columns: built-in Expand replicates the
      // input once per distinct group; chaining the two-stage form keeps each
      // pass linear (join of two pre-deduped counts)
      (s, d) => {
        val e = Tables.events(s, d).select(col("user_id"),
          Ops.dayBucket(col("ts")).as("day_bucket"), col("event_type"))
        val users = Ops.distinctCountSkewSafe(e, "day_bucket", "user_id", "uniq_users")
        val types = Ops.distinctCountSkewSafe(e, "day_bucket", "event_type", "uniq_types")
        users.join(types, Seq("day_bucket"))
      },
      Some("""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS day_bucket,
              count(DISTINCT user_id) AS uniq_users,
              count(DISTINCT event_type) AS uniq_types
              FROM events GROUP BY 1""")),

    Q("q_rollup",
      (s, d) => Tables.lineitem(s, d).rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")),

    Q("q_cube",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"), Ops.dayBucket(col("ts")).as("day_bucket"))
        .cube("event_type", "day_bucket").agg(count(lit(1)).as("n")),
      Some("""WITH e AS (SELECT event_type,
                strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS day_bucket FROM events)
              SELECT event_type, day_bucket, count(*) AS n FROM e
              GROUP BY CUBE(event_type, day_bucket)"""), headline = true),

    Q("q_window_ranking", // ranking-family closure: ntile buckets, rank with
      // gaps, dense rank, percent_rank/cume_dist distribution positions
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy(col("value").asc, col("event_id").asc)
        Tables.events(s, d).select(col("event_id"), col("event_type"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
      },
      Some("""SELECT event_id, event_type,
              rank() OVER w AS rnk,
              dense_rank() OVER w AS drnk,
              ntile(4) OVER w AS quartile,
              round(percent_rank() OVER w, 6) AS pct_rank,
              round(cume_dist() OVER w, 6) AS cume
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""")),

    Q("q_map_funcs", // map-type closure: build a per-user map of
      // event_type -> count, look one key up, then explode back to sorted
      // rows (row-shaped output keeps the oracle engine-agnostic)
      (s, d) => {
        val m = Tables.events(s, d).groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(map_from_entries(sort_array(collect_list(
            struct(col("event_type"), col("n"))))).as("m"))
        m.select(col("user_id"),
            element_at(col("m"), "purchase").as("purchases"),
            explode(col("m")).as(Seq("event_type", "n")))
          .select("user_id", "event_type", "n", "purchases")
      },
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS n
                FROM events GROUP BY 1, 2),
              p AS (SELECT user_id, n AS purchases FROM c WHERE event_type = 'purchase')
              SELECT c.user_id, c.event_type, c.n, p.purchases
              FROM c LEFT JOIN p USING (user_id)""")),

    Q("q_window_funcs",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d).select(col("event_id"), col("user_id"),
          row_number().over(w).cast("long").as("rn"),
          lag(col("event_id"), 1).over(w).as("prev_id"),
          lead(col("event_id"), 1).over(w).as("next_id"),
          count(lit(1)).over(wf).as("running_n"),
          sum(dec(col("value"))).over(wf).cast("double").as("running_value"))
      },
      Some("""SELECT event_id, user_id,
              row_number() OVER w AS rn,
              lag(event_id) OVER w AS prev_id,
              lead(event_id) OVER w AS next_id,
              count(*) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP), event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)"""), headline = true),

    Q("q_window_range_frame", // event-time RANGE frame: trailing 1-hour sum per user.
      // Frame bounds are on epoch MICROSECONDS (not an interval literal) so both
      // engines bound the frame on the identical integer axis.
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts").cast("timestamp")))
          .rangeBetween(-3600000000L, 0L)
        Tables.events(s, d).select(col("event_id"), col("user_id"),
          sum(dec6(col("value"))).over(w).cast("double").as("hour_sum"))
      },
      Some("""SELECT event_id, user_id,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum
              FROM events""")),

    Q("q_sort_global",
      (s, d) => Ops.topN(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_extendedprice"),
        100, Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""")),

    Q("q_scalar_funcs",
      (s, d) => Tables.part(s, d).select(col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_type"), 1, 5).as("type5"),
        length(col("p_name")).cast("long").as("name_len"),
        abs(col("p_size") - 25).as("size_dev"),
        (col("p_size") % 7).as("size_mod"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        round(dec(col("p_retailprice")) * dec(lit(1.1)), 2).cast("double").as("price_up"),
        floor(col("p_retailprice")).as("price_floor"),
        ceil(col("p_retailprice")).as("price_ceil")),
      Some("""SELECT p_partkey, upper(p_name) AS uname, substr(p_type, 1, 5) AS type5,
              CAST(length(p_name) AS BIGINT) AS name_len, abs(p_size - 25) AS size_dev,
              p_size % 7 AS size_mod, concat_ws('-', p_brand, p_type) AS brand_type,
              CAST(round(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(18,2)), 2) AS DOUBLE) AS price_up,
              CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
              CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil
              FROM part""")),

    Q("q_asof_join_tolerance", // merge_asof tolerance semantics: stale matches
      // (right row > 30 min older than the left row) null out
      (s, d) => {
        val e = Tables.events(s, d)
        val views = e.filter(col("event_type") === "view").select("event_id", "user_id", "ts")
        val purchases = e.filter(col("event_type") === "purchase")
        Ops.asofJoinTolerance(views, purchases, Seq("user_id"), "ts", "ts",
          col("event_id"), col("event_id"),
          Map("purchase_event_id" -> col("event_id")),
          expr("INTERVAL 30 MINUTES"))
      },
      Some("""WITH u AS (
              SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                CAST(ts AS TIMESTAMP) AS uts, 1 AS is_l,
                CAST(NULL AS BIGINT) AS p_id, CAST(NULL AS TIMESTAMP) AS m_ts, event_id AS tie
              FROM events WHERE event_type = 'view'
              UNION ALL
              SELECT NULL, user_id, NULL, CAST(ts AS TIMESTAMP), 0, event_id,
                CAST(ts AS TIMESTAMP), event_id
              FROM events WHERE event_type = 'purchase'),
              f AS (SELECT *,
                last_value(p_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY uts, is_l, tie
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_filled,
                last_value(m_ts IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY uts, is_l, tie
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_filled
              FROM u)
              SELECT event_id, user_id, ts,
                CASE WHEN m_filled IS NOT NULL AND ts <= m_filled + INTERVAL 30 MINUTE
                     THEN p_filled END AS purchase_event_id
              FROM f WHERE is_l = 1""")),

    Q("q_asof_join",
      (s, d) => {
        val e = Tables.events(s, d)
        val views = e.filter(col("event_type") === "view").select("event_id", "user_id", "ts")
        val purchases = e.filter(col("event_type") === "purchase")
        Ops.asofJoin(views, purchases, Seq("user_id"), "ts", "ts",
          col("event_id"), col("event_id"),
          Map("purchase_event_id" -> col("event_id")))
      },
      Some("""WITH u AS (
              SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                CAST(ts AS TIMESTAMP) AS uts, 1 AS is_l,
                CAST(NULL AS BIGINT) AS p_id, event_id AS tie
              FROM events WHERE event_type = 'view'
              UNION ALL
              SELECT NULL, user_id, NULL, CAST(ts AS TIMESTAMP), 0, event_id, event_id
              FROM events WHERE event_type = 'purchase'),
              f AS (SELECT *, last_value(p_id IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY uts, is_l, tie
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_event_id
              FROM u)
              SELECT event_id, user_id, ts, purchase_event_id FROM f WHERE is_l = 1"""), headline = true),

    Q("q_range_join",
      (s, d) => Ops.rangeSelfJoin(
        Tables.events(s, d).select("user_id", "ts", "event_id"),
        Seq("user_id"), "ts", "event_id", expr("INTERVAL 5 MINUTES")),
      Some(rangeJoinOracle)),

    Q("q_range_join_bucketed", // the 100 TB form — identical output, bounded per-task work
      (s, d) => Ops.rangeSelfJoinBucketed(
        Tables.events(s, d).select("user_id", "ts", "event_id"),
        Seq("user_id"), "ts", "event_id", bandSeconds = 300L),
      Some(rangeJoinOracle), headline = true),

    Q("q_interval_join", // symmetric interval-overlap join ([ts, ts+10m) windows)
      (s, d) => {
        val e = Tables.events(s, d).filter(col("user_id") <= 20)
          .select("user_id", "event_id", "ts")
        val a = e.alias("a"); val b = e.alias("b")
        a.join(b, col("a.user_id") === col("b.user_id") &&
            col("a.event_id") < col("b.event_id") &&
            col("a.ts") < col("b.ts") + expr("INTERVAL 10 MINUTES") &&
            col("b.ts") < col("a.ts") + expr("INTERVAL 10 MINUTES"))
          .select(col("a.user_id").as("user_id"),
            col("a.event_id").as("a_event_id"), col("b.event_id").as("b_event_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                FROM events WHERE user_id <= 20)
              SELECT a.user_id AS user_id, a.event_id AS a_event_id, b.event_id AS b_event_id
              FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
                AND a.ts < b.ts + INTERVAL 10 MINUTES
                AND b.ts < a.ts + INTERVAL 10 MINUTES""")),

    Q("q_hash_sample", // xxhash64 bucketing — engine-specific, rows-only
      (s, d) => Ops.hashSample(Tables.events(s, d), "event_id", 0.1)
        .select("event_id", "user_id", "event_type"),
      None),

    Q("q_stratified_sample", // xxhash64 bucketing — rows-only
      (s, d) => Ops.stratifiedHashSample(Tables.events(s, d), "event_id", "event_type",
        Map("purchase" -> 1.0, "view" -> 0.1, "signup" -> 0.5))
        .select("event_id", "event_type"),
      None),

    Q("q_hash_sample_bounds", // driver-visible gate for the deterministic
      // sampler (sibling of q_approx_distinct_bounds): the realized rate must
      // sit within ±2pp of the requested 10% (binomial noise is ~0.2pp at
      // fixture scale), and a 5% sample must NEST inside the 10% sample — the
      // defining property of hash-bucket sampling (same content → same draw,
      // smaller rates are prefixes of larger ones). n_events is DuckDB-exact;
      // the raw sample stays driver-visible in q_hash_sample.
      (s, d) => {
        val ev = Tables.events(s, d)
        val s10 = Ops.hashSample(ev, "event_id", 0.1).select("event_id")
        val s05 = Ops.hashSample(ev, "event_id", 0.05).select("event_id")
        val notNested = s05.join(s10, Seq("event_id"), "left_anti")
          .agg(count(lit(1)).as("__nn"))
        ev.agg(count(lit(1)).as("n_events"))
          .crossJoin(s10.agg(count(lit(1)).as("__n10")))
          .crossJoin(notNested)
          .select(col("n_events"),
            (abs(col("__n10").cast("double") / col("n_events") - 0.1) <= 0.02)
              .as("rate_ok"),
            (col("__nn") === 0).as("nested_ok"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_events, TRUE AS rate_ok,
              TRUE AS nested_ok FROM events""")),

    Q("q_stratified_sample_bounds", // PER-STRATUM driver gate for the
      // stratified sampler: each stratum's realized rate within ±5pp of its
      // requested rate (purchase 1.0 is exact by construction; view/signup
      // binomial noise is well under 1pp at fixture scale). n_events per
      // stratum is DuckDB-exact; the raw sample stays in q_stratified_sample.
      (s, d) => {
        val ev = Tables.events(s, d)
        val samp = Ops.stratifiedHashSample(ev, "event_id", "event_type",
          Map("purchase" -> 1.0, "view" -> 0.1, "signup" -> 0.5))
        val want = map(lit("purchase"), lit(1.0), lit("view"), lit(0.1),
          lit("signup"), lit(0.5))
        ev.groupBy("event_type").agg(count(lit(1)).as("n_events"))
          .join(samp.groupBy("event_type").agg(count(lit(1)).as("__ns")),
            Seq("event_type"), "left")
          .select(col("event_type"), col("n_events"),
            (abs(coalesce(col("__ns"), lit(0L)).cast("double") / col("n_events")
              - coalesce(element_at(want, col("event_type")), lit(0.0))) <= 0.05)
              .as("rate_ok"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              TRUE AS rate_ok FROM events GROUP BY event_type""")),

    Q("q_approx_distinct", // HLL sketch — engine-specific, rows-only check (no oracle)
      (s, d) => Tables.events(s, d).groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users")),
      None),

    Q("q_approx_distinct_bounds", // driver-visible error gate for
      // approx_count_distinct (HLL++, rsd default 0.05 — a different sketch
      // than the datasketches HLL q_sketch_reagg_bounds gates): per stratum
      // the estimate must land in exact·[0.85, 1.15] (3·rsd); exact count and
      // boolean hash-oracled, estimate stays driver-visible in q_approx_distinct
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"),
            approx_count_distinct(col("user_id")).as("__est"))
          .select(col("event_type"), col("exact_users"),
            (col("__est") >= col("exact_users") * 0.85 &&
             col("__est") <= col("exact_users") * 1.15).as("within_bounds"))
      },
      Some(distinctBoundsOracle)),

    Q("q_sketch_reagg", // RE-AGGREGATABLE distinct-count sketches — the
      // incremental-dashboard pattern at 100 TB: materialize one HLL sketch
      // column per (day, type) partition, then any rollup (here: per type
      // across all days) MERGES sketches instead of rescanning raw events.
      // Rows-only (sketch binary is engine-specific); OpsSpec asserts the
      // merge-invariance (merged estimate == direct whole-corpus estimate)
      // and the error bound vs exact
      (s, d) => Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("distinct_users_est")),
      None),

    Q("q_sketch_reagg_bounds", // oracle-checked error gate for the sketch layer:
      // per stratum, the merged-HLL estimate must land in
      // [exact*(1-eps), exact*(1+eps)] against the EXACT distinct count — the
      // boolean plus the exact count ARE hash-oracled (DuckDB computes the same
      // exact count and expects within_bounds = TRUE; it cannot reproduce the
      // estimate value itself, which stays driver-visible in q_sketch_reagg).
      // eps = 0.05 ~ 3 sigma for lgConfigK=12 (rel err 1.04/sqrt(4096) = 1.6%).
      (s, d) => {
        val ev = Tables.events(s, d)
        val est = ev
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
          .groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
          .join(est, Seq("event_type"))
          .select(col("event_type"), col("exact_users"),
            (col("est") >= col("exact_users") * 0.95 &&
             col("est") <= col("exact_users") * 1.05).as("within_bounds"))
      },
      Some(distinctBoundsOracle)),

    Q("q_pivot",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id").pivot("event_type", Seq("signup", "purchase", "view"))
        .agg(count(lit(1)))
        .select(col("user_id"), coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("view"), lit(0L)).as("view")),
      Some("""SELECT user_id,
              count(*) FILTER (event_type = 'signup') AS signup,
              count(*) FILTER (event_type = 'purchase') AS purchase,
              count(*) FILTER (event_type = 'view') AS view
              FROM events GROUP BY user_id""")),

    Q("q_percentile",
      (s, d) => Tables.events(s, d).groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 6).as("median_value"),
          round(expr("percentile(value, 0.9)"), 6).as("p90_value")),
      Some("""SELECT event_type,
              round(quantile_cont(value, 0.5), 6) AS median_value,
              round(quantile_cont(value, 0.9), 6) AS p90_value
              FROM events GROUP BY event_type""")),

    Q("q_approx_percentile", // bounded-error percentile sketch — engine-specific, rows-only
      (s, d) => Tables.events(s, d).groupBy("event_type")
        .agg(expr("approx_percentile(value, 0.5, 1000)").as("p50"),
          expr("approx_percentile(value, 0.99, 1000)").as("p99")),
      None),

    Q("q_approx_percentile_bounds", // driver-visible error gate for the
      // percentile sketch, mirroring q_sketch_reagg_bounds — on the RANK, the
      // quantity approx_percentile actually bounds (error <= n/accuracy ROWS):
      // the returned element's rank interval [n_lt, n_le] must overlap
      // 0.5·n ± (n/1000 + 1) (+1 absorbs the floor/ceil at the target rank).
      // A VALUE window (exact percentiles at p ± 2/accuracy) is the wrong
      // gate: at small strata it is narrower than one inter-element gap, so
      // the discrete element fails it while honoring the rank guarantee
      // (measured at sf0.001, n≈200/stratum). n and the boolean are
      // hash-oracled — DuckDB computes the same n and expects TRUE; the
      // sketch value itself stays driver-visible in q_approx_percentile.
      (s, d) => {
        val ev = Tables.events(s, d)
        val ap = ev.groupBy("event_type")
          .agg(expr("approx_percentile(value, 0.5, 1000)").as("__ap"))
        ev.join(broadcast(ap), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") < col("__ap"), 1L).otherwise(0L)).as("__n_lt"),
            sum(when(col("value") <= col("__ap"), 1L).otherwise(0L)).as("__n_le"))
          .select(col("event_type"), col("n"),
            (col("__n_lt") <= col("n") / 2d + col("n") / 1000d + 1d &&
             col("__n_le") >= col("n") / 2d - col("n") / 1000d - 1d)
              .as("within_bounds"))
      },
      Some("""SELECT event_type, count(*) AS n, TRUE AS within_bounds
              FROM events GROUP BY event_type""")),

    Q("q_scalar_subquery", // decorrelated by Catalyst (RewriteCorrelatedScalarSubquery)
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("graft_c")
        Tables.orders(s, d).createOrReplaceTempView("graft_o")
        s.sql("""SELECT c_custkey, c_name,
                 (SELECT count(*) FROM graft_o o WHERE o.o_custkey = c.c_custkey) AS n_orders
                 FROM graft_c c WHERE c_custkey <= 100""")
      },
      Some("""SELECT c_custkey, c_name,
              (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
              FROM customer c WHERE c_custkey <= 100""")),

    Q("q_date_funcs",
      (s, d) => Tables.orders(s, d).select(col("o_orderkey"),
        datediff(lit("1998-12-31"), col("o_orderdate")).cast("long").as("days_to_eoy"),
        date_add(col("o_orderdate"), 30).as("due_date"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        quarter(col("o_orderdate")).cast("long").as("order_quarter"),
        dayofweek(col("o_orderdate")).cast("long").as("order_dow"),
        last_day(col("o_orderdate")).as("month_end")),
      Some("""SELECT o_orderkey,
              date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
              CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
              CAST(year(o_orderdate) AS BIGINT) AS order_year,
              CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
              CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS order_dow,
              last_day(CAST(o_orderdate AS DATE)) AS month_end
              FROM orders""")),

    Q("q_string_funcs",
      (s, d) => Tables.part(s, d)
        .filter(col("p_name").like("%green%"))
        .select(col("p_partkey"),
          regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
          translate(col("p_brand"), "#", "-").as("brand_dashed"),
          lpad(col("p_partkey").cast("string"), 10, "0").as("padded_key"),
          reverse(col("p_name")).as("rev_name"),
          trim(col("p_name")).as("trimmed"),
          instr(col("p_name"), "green").cast("long").as("green_pos")),
      Some("""SELECT p_partkey,
              regexp_extract(p_type, '^(\w+)', 1) AS type_head,
              replace(p_brand, '#', '-') AS brand_dashed,
              lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
              reverse(p_name) AS rev_name,
              trim(p_name, ' ') AS trimmed,
              CAST(instr(p_name, 'green') AS BIGINT) AS green_pos
              FROM part WHERE p_name LIKE '%green%'""")),

    Q("q_having",
      (s, d) => Tables.events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total_value"))
        .filter(col("n") >= 5),
      Some("""SELECT user_id, count(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
              FROM events GROUP BY user_id HAVING count(*) >= 5""")),

    Q("q_null_safe_join",
      (s, d) => {
        // two bounded sides (k is low-cardinality: an unbounded self-join on it
        // is quadratic in events — 50M pairs at sf0.1)
        val e = Tables.events(s, d).filter(col("user_id") <= 20)
          .select(col("event_id"), col("event_type"),
            get_json_object(col("props"), "$.k").cast("int").as("k"))
        val a = e.filter(col("event_type") === "signup").alias("a")
        val b = e.filter(col("event_type") === "purchase").alias("b")
        a.join(b, col("a.k") <=> col("b.k"))
          .groupBy(col("a.k").as("k")).agg(count(lit(1)).as("pair_cnt"))
      },
      Some("""WITH e AS (SELECT event_id, event_type,
                CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
                FROM events WHERE user_id <= 20)
              SELECT a.k AS k, count(*) AS pair_cnt
              FROM (SELECT * FROM e WHERE event_type = 'signup') a
              JOIN (SELECT * FROM e WHERE event_type = 'purchase') b
                ON a.k IS NOT DISTINCT FROM b.k
              GROUP BY a.k""")),

    Q("q_grouping_sets",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("graft_l")
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
                 FROM graft_l
                 GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n
              FROM lineitem
              GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")),

    Q("q_collect_sorted",
      // sorted-list agg, serialized to CSV text: the driver's pandas comparator
      // cannot hash raw array cells, and the string join loses nothing (sort is
      // numeric BEFORE the per-element cast)
      (s, d) => Tables.events(s, d).filter(col("user_id") <= 5)
        .groupBy("user_id")
        .agg(array_join(transform(sort_array(collect_list(col("event_id"))),
            x => x.cast("string")), ",").as("event_ids"),
          count(lit(1)).as("n")),
      Some("""SELECT user_id, array_to_string(list_sort(list(event_id)), ',') AS event_ids,
              count(*) AS n
              FROM events WHERE user_id <= 5 GROUP BY user_id""")),

    Q("q_cdc_merge", // CDC merge (MERGE INTO / APPLY CHANGES): change log of
      // inserts/updates/deletes -> final state; latest op per key wins, a
      // winning delete removes the key. Op derived deterministically from
      // event_id so both engines see the same change log.
      (s, d) => {
        val ch = Tables.events(s, d).select(
          col("user_id"), col("ts"), col("event_id"), col("value"),
          when(pmod(col("event_id"), lit(10)) === 0, "D")
            .when(pmod(col("event_id"), lit(10)) < 3, "U")
            .otherwise("I").as("op"))
        Ops.applyChanges(ch, Seq("user_id"), Seq(col("ts"), col("event_id")))
      },
      Some("""WITH ch AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
                CASE WHEN event_id % 10 = 0 THEN 'D'
                     WHEN event_id % 10 < 3 THEN 'U' ELSE 'I' END AS op
              FROM events),
              r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn FROM ch)
              SELECT user_id, ts, event_id, value FROM r
              WHERE rn = 1 AND op <> 'D'""")),

    Q("q_heavy_hitters", // Misra-Gries heavy hitters in the EXACT regime:
      // capacity (64) exceeds the event_type domain, so no decrement fires and
      // the sketch returns exact counts — hash-oracled; the approximate regime
      // (capacity << distinct) is property-tested with its undercount bound
      (s, d) => Ops.approxHeavyHitters(Tables.events(s, d), "event_type",
        k = 5, capacity = 64),
      Some("""SELECT event_type AS item, count(*) AS est_count FROM events
              GROUP BY event_type ORDER BY est_count DESC, item LIMIT 5"""), headline = true),

    Q("q_heavy_hitters_by_key", // per-group Misra-Gries in the EXACT regime
      // (150 users << capacity 1024): top-3 users per event type; tasks keep
      // one bounded sketch per group, the raw stream never shuffles
      (s, d) => Ops.approxHeavyHittersByKey(Tables.events(s, d),
        "event_type", "user_id", k = 3, capacity = 1024),
      Some("""SELECT event_type, item, est_count FROM (
                SELECT event_type, CAST(user_id AS VARCHAR) AS item,
                  count(*) AS est_count,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY count(*) DESC, CAST(user_id AS VARCHAR)) AS rn
                FROM events GROUP BY event_type, user_id)
              WHERE rn <= 3""")))

  // ------------------------------------------------------------------
  // training-data pipeline: dedup / similarity / text / multimodal
  // ------------------------------------------------------------------
  private val pipelineQueries = Seq(
    Q("pipeline_curate", // flagship composition: lang filter → quality gate → dedup
      (s, d) => Curation.curateCorpus(Tables.documents(s, d),
        lang = "en", minTokens = 20, maxAvgTokenLen = 5.0),
      Some(curateOracle)),

    Q("pipeline_curate_fp", // same pipeline, 100 TB shuffle shape: dedup keyed on
      // xxhash64(norm) so the exchange carries 8-byte keys, not documents —
      // output identical to pipeline_curate (same oracle, hash-matched;
      // PropertySpec asserts multiset equivalence for every corpus)
      (s, d) => Curation.curateCorpusByFingerprint(Tables.documents(s, d),
        lang = "en", minTokens = 20, maxAvgTokenLen = 5.0),
      Some(curateOracle)),

    Q("pipeline_curate_semantic", // quality gates + SemDeDup embedding-space
      // dedup (catches paraphrases exact dedup cannot) as a DRIVER-VISIBLE
      // composition gate: every kept doc must be a quality survivor WITH an
      // embedding (kept_subset_of_quality), and every quality survivor the
      // semantic pass dropped must participate in at least one EXACT
      // cosine>=0.4 pair among survivor embeddings (drops_witnessed — no doc
      // is discarded on trained-blocking evidence alone). n_docs is
      // DuckDB-exact; the composition's hand-built equivalence stays in spec.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val surv = gateCkpt(Curation.scoredSurvivors(docs, "en", 20, 5.0)
          .select("doc_id"))
        // surv/survEmb are referenced 2–3× below and NEITHER is
        // exchange-terminated (semi-join / pair-filter tops), so each
        // reference would re-run the tokenize+semi-join / the all-pairs
        // scan — the pairRecallGate rationale, applied to this composite
        // gate (measured 4.96 → 4.43 s)
        val survEmb = gateCkpt(emb.join(surv.withColumnRenamed("doc_id", "vec_id"),
          Seq("vec_id"), "left_semi"))
        // the kept set DIRECTLY over the gate's checkpointed survivor frames:
        // quality gates first, then semanticDedup over the survivors'
        // embeddings (failed docs never enter the k-means pass or the cell
        // join). Keepers are a SUBSET of the survivors by construction, so no
        // re-join to the survivors is needed, and the tokenize+langid pass and
        // the semi-join run ONCE.
        val kept = Similarity.semanticDedup(survEmb, 0.4, nassign = 3)
          .filter(col("keep")).select(col("vec_id").as("doc_id"))
        val truth = gateCkpt(Similarity.cosineDupPairs(survEmb, 0.4))
        val hasDup = truth.select(col("a_id").as("doc_id"))
          .union(truth.select(col("b_id").as("doc_id"))).distinct()
          .withColumn("__hd", lit(true))
        val candidates = survEmb.select(col("vec_id").as("doc_id"))
        val keptBad = kept.join(candidates, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("__kb"))
        val unjust = candidates.join(kept, Seq("doc_id"), "left_anti")
          .join(hasDup, Seq("doc_id"), "left")
          .agg(sum(when(col("__hd").isNull, 1L).otherwise(0L)).as("__uj"))
        docs.agg(count(lit(1)).as("n_docs")).crossJoin(keptBad).crossJoin(unjust)
          .select(col("n_docs"), (col("__kb") === 0).as("kept_subset_of_quality"),
            (coalesce(col("__uj"), lit(0L)) === 0).as("drops_witnessed"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS kept_subset_of_quality,
              TRUE AS drops_witnessed
              FROM documents""")),

    Q("pipeline_chunk", // context-length prep: overlapping token windows
      // (chunkSize=64, overlap=16 → stride 48); every token covered, last
      // chunk may be short; map-only expansion, tokenize-once
      (s, d) => Curation.chunkDocuments(Tables.documents(s, d), 64, 16),
      Some(tokensCte + """,
              c AS (SELECT doc_id, toks,
                CAST(greatest(ceil((len(toks) - 64) / 48.0), 0) AS BIGINT) + 1 AS n_chunks
                FROM t),
              g AS (SELECT doc_id, toks,
                unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM c)
              SELECT doc_id, chunk_id,
                array_to_string(toks[chunk_id*48+1 : chunk_id*48+64], ' ') AS chunk_text,
                CAST(len(toks[chunk_id*48+1 : chunk_id*48+64]) AS BIGINT) AS n_tokens
              FROM g""")),

    Q("pipeline_pack", // distributed sequence packing: deterministic pack
      // groups (doc_id mod 32 — parallelism knob), running token total per
      // group, pack cut at each 2048-token budget crossing
      (s, d) => Curation.packByTokenBudget(Tables.documents(s, d), 2048, 32),
      Some(packCtes + """
              SELECT doc_id, pack_group, n_tokens,
                CAST(floor(tokens_before / 2048.0) AS BIGINT) AS pack_id FROM w""")),

    Q("pipeline_pack_manifest", // the dataloader contract on top of packing:
      // per-pack member order + token offsets inside the pack — the spans an
      // attention mask / boundary loss reset reads. Budget 512 so sf-fixture
      // packs actually span multiple docs per pack.
      (s, d) => Curation.packManifest(Tables.documents(s, d), 512, 32),
      Some(packCtes + """,
              p AS (SELECT *, CAST(floor(tokens_before / 512.0) AS BIGINT) AS pack_id FROM w)
              SELECT doc_id, pack_group, pack_id,
                CAST(row_number() OVER (PARTITION BY pack_group, pack_id ORDER BY doc_id) AS BIGINT)
                  AS seq_in_pack,
                CAST(tokens_before - min(tokens_before) OVER (PARTITION BY pack_group, pack_id)
                  AS BIGINT) AS pack_offset,
                n_tokens
              FROM p""")),

    Q("sim_quantize_int8", // int8 embedding compression (16x ANN memory) —
      // hash-oracled: the codes are pure IEEE arithmetic (y = x·(127/max|x|),
      // code = sign(y)·floor(|y|+0.5) — explicit ties-away-from-zero, no
      // engine round()), so DuckDB reproduces every code bit-for-bit;
      // SimilaritySpec additionally asserts the reconstruction error bound
      // and cosine preservation
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))
          .select(col("vec_id"), col("emb"), VectorFns.int8Scale(col("emb")).as("scale"))
        e.select(col("vec_id"), round(col("scale"), 6).as("scale"),
          aggregate(VectorFns.quantizeInt8(col("emb"), col("scale")),
            lit(0L), (a, x) => a + x).as("q_sum"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              s AS (SELECT vec_id, emb,
                CASE WHEN list_max(list_transform(emb, x -> abs(x))) = 0 THEN 0.0
                     ELSE 127.0 / list_max(list_transform(emb, x -> abs(x))) END AS scale
                FROM e)
              SELECT vec_id, round(scale, 6) AS scale,
                CAST(list_sum(list_transform(emb, x ->
                  CAST(sign(x * scale) * floor(abs(x * scale) + 0.5) AS BIGINT))) AS BIGINT) AS q_sum
              FROM s""")),

    Q("text_bpe_merges", // trained BPE vocabulary as a DRIVER-VISIBLE validity
      // gate: distributed word-frequency agg + driver-side merge fit
      // (Sennrich et al. 2016 — the fit is a driver-side model op by design,
      // like k-means centroids). The iterative loop is what SQL cannot
      // express, but the TRAINED-VOCABULARY INVARIANTS are checkable: exactly
      // the requested number of merges, ranks dense 0..n-1, and every merge's
      // sides are single characters or the product of an EARLIER rank — the
      // exact property text_bpe_encode_fixed's replay oracle relies on.
      (s, d) => {
        import s.implicits._
        val merges = graft.operators.Bpe.trainMerges(Tables.documents(s, d),
          numMerges = 40)
        val ranksDense = merges.map(_.rank).sorted == merges.indices.toList
        val sidesValid = merges.forall { m =>
          def ok(side: String) = side.length == 1 ||
            merges.exists(p => p.rank < m.rank && p.left + p.right == side)
          ok(m.left) && ok(m.right)
        }
        Seq((merges.size.toLong, ranksDense, sidesValid))
          .toDF("n_merges", "ranks_dense", "sides_valid")
      },
      Some("""SELECT CAST(40 AS BIGINT) AS n_merges, TRUE AS ranks_dense,
              TRUE AS sides_valid""")),

    Q("text_bpe_token_count", // per-doc token counts under the TRAINED
      // tokenizer, as a PER-DOC driver gate: encode is map-only via the
      // native BpeEncodeExpr, merges ride as a reference object. The trained
      // merge table is engine-specific (the iterative fit is what SQL cannot
      // express — text_bpe_merges stays rows-only), but the ENCODE invariants
      // are exact and DuckDB-checkable per doc: BPE merges only concatenate
      // within words, so the tokens' total characters equal the words' total
      // characters (chars_preserved), and the token count sits in
      // [n_words, n_chars] (count_bounded). n_words is DuckDB-recomputed.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = graft.operators.Bpe.trainMerges(docs, numMerges = 40)
        docs.select(col("doc_id"),
            TextFns.tokens(col("text")).as("__words"),
            graft.operators.Bpe.encode(col("text"), merges).as("__toks"))
          .select(col("doc_id"),
            size(col("__words")).cast("long").as("n_words"),
            aggregate(col("__toks"), lit(0),
              (acc, t) => acc + length(t)).as("__tokChars"),
            aggregate(col("__words"), lit(0),
              (acc, w) => acc + length(w)).as("__wordChars"),
            size(col("__toks")).cast("long").as("__nToks"))
          .select(col("doc_id"), col("n_words"),
            (col("__tokChars") === col("__wordChars")).as("chars_preserved"),
            (col("__nToks") >= col("n_words") &&
              col("__nToks") <= col("__wordChars")).as("count_bounded"))
      },
      Some(wordCountGateOracle), headline = true),

    Q("text_bpe_encode_fixed", // the encode half under a PINNED literal merge
      // table: deterministic, so hash-oracled — DuckDB replays the merges in
      // rank order as bracket-delimited replace passes over char-wrapped words
      // ('<s><t><r>...'; per-symbol brackets share no boundary chars, so one
      // left-to-right replace pass per merge is exactly BpeEncodeExpr's
      // non-chaining fuse; each merge's sides exist before its rank, so
      // rank-order passes equal the lowest-rank-first loop). trainMerges
      // stays rows-only (text_bpe_merges) — the merge LOOP is what SQL can't
      // express, not the encode. Literal '<'/'>' chars are stripped on BOTH
      // sides before encoding: the oracle's bracket delimiters would otherwise
      // collide with document text containing them (the
      // fixture has none, but the parity must not depend on that).
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          graft.operators.Bpe.encode(
            regexp_replace(col("text"), "[<>]", ""), fixedBpeMerges).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_bpe_tokens"),
          array_join(col("toks"), " ").as("bpe_tokens")),
      Some(bpeEncodeCtes + """
              SELECT doc_id,
                CAST(list_sum(list_transform(encw, e -> len(e) - len(replace(e, '<', '')))) AS BIGINT) AS n_bpe_tokens,
                array_to_string(list_transform(encw, e -> trim(replace(e, '><', ' '), '<>')), ' ') AS bpe_tokens
              FROM enc""")),

    Q("text_bpe_fertility", // tokenizer-audit fertility: BPE tokens per
      // whitespace word under the pinned merge table — the per-language stat
      // a vocabulary redesign is judged on; map-only, one encode pass plus
      // the tokenize-once word count
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          graft.operators.Bpe.encode(
            regexp_replace(col("text"), "[<>]", ""), fixedBpeMerges).as("toks"),
          size(TextFns.tokens(regexp_replace(col("text"), "[<>]", "")))
            .cast("long").as("n_words"))
        .select(col("doc_id"), col("n_words"),
          size(col("toks")).cast("long").as("n_bpe_tokens"))
        .withColumn("fertility",
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)),
      Some(bpeEncodeCtes + """,
              n AS (SELECT doc_id, n_words,
                CAST(list_sum(list_transform(encw, e -> len(e) - len(replace(e, '<', '')))) AS BIGINT) AS n_bpe_tokens
                FROM enc)
              SELECT doc_id, n_words, n_bpe_tokens,
                round(CAST(n_bpe_tokens AS DOUBLE) / n_words, 6) AS fertility
              FROM n""")),

    Q("text_unigram_vocab", // trained unigram-LM (SentencePiece-family)
      // tokenizer vocabulary as a DRIVER-VISIBLE validity gate (Kudo 2018;
      // the [[graft.operators.Unigram]] scaladoc carries the architecture).
      // The EM fit is what SQL cannot express, but the TRAINED-VOCABULARY
      // invariants are checkable: exactly the requested piece count, unigram
      // probabilities normalized, every piece's characters covered by
      // single-char pieces (words stay segmentable without unks on the
      // training corpus), and the per-phase EM log-likelihood trace
      // non-decreasing — the textbook EM guarantee as a driver gate.
      (s, d) => {
        import s.implicits._
        val r = graft.operators.Unigram.trainVocab(Tables.documents(s, d),
          vocabSize = 150)
        val probsNormalized =
          math.abs(r.pieces.iterator.map(p => math.exp(p.logProb)).sum - 1.0) < 1e-9
        val singleChars = r.pieces.iterator.map(_.piece).filter(_.length == 1).toSet
        val charsCovered =
          r.pieces.forall(_.piece.forall(c => singleChars(c.toString)))
        val llMonotone = r.llTrace.forall(phase =>
          phase.lazyZip(phase.drop(1)).forall((a, b) => b >= a - math.abs(a) * 1e-9))
        Seq((r.pieces.size.toLong, probsNormalized, charsCovered, llMonotone))
          .toDF("n_pieces", "probs_normalized", "chars_covered", "ll_nondecreasing")
      },
      Some("""SELECT CAST(150 AS BIGINT) AS n_pieces, TRUE AS probs_normalized,
              TRUE AS chars_covered, TRUE AS ll_nondecreasing""")),

    Q("text_unigram_token_count", // per-doc token counts under the TRAINED
      // unigram tokenizer, as a PER-DOC driver gate (the text_bpe_token_count
      // twin): Viterbi encode is map-only via the native UnigramEncodeExpr,
      // the piece table rides as a reference object. ENCODE invariants are
      // exact and DuckDB-checkable per doc: a segmentation concatenates back
      // to its words (chars_preserved) and the piece count sits in
      // [n_words, n_chars] (count_bounded). n_words is DuckDB-recomputed.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pieces = graft.operators.Unigram.trainVocab(docs, vocabSize = 150).pieces
        docs.select(col("doc_id"),
            TextFns.tokens(col("text")).as("__words"),
            graft.operators.Unigram.encode(col("text"), pieces).as("__toks"))
          .select(col("doc_id"),
            size(col("__words")).cast("long").as("n_words"),
            aggregate(col("__toks"), lit(0),
              (acc, t) => acc + length(t)).as("__tokChars"),
            aggregate(col("__words"), lit(0),
              (acc, w) => acc + length(w)).as("__wordChars"),
            size(col("__toks")).cast("long").as("__nToks"))
          .select(col("doc_id"), col("n_words"),
            (col("__tokChars") === col("__wordChars")).as("chars_preserved"),
            (col("__nToks") >= col("n_words") &&
              col("__nToks") <= col("__wordChars")).as("count_bounded"))
      },
      Some(wordCountGateOracle), headline = true),

    Q("text_unigram_encode_fixed", // the Viterbi decode under a PINNED piece
      // table chosen so the optimum is provably "use every piece occurrence"
      // (see fixedUnigramPieces) — deterministic, so fully hash-oracled:
      // DuckDB replays the decode as one bracket-replace pass per piece over
      // char-wrapped words. trainVocab stays gate-oracled (text_unigram_vocab)
      // — the EM loop is what SQL can't express, not the decode. Literal
      // '<'/'>' stripped on BOTH sides (the text_bpe_encode_fixed rule).
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          graft.operators.Unigram.encode(
            regexp_replace(col("text"), "[<>]", ""), fixedUnigramPieces).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_unigram_tokens"),
          array_join(col("toks"), " ").as("unigram_tokens")),
      Some(unigramEncodeCtes + """
              SELECT doc_id,
                CAST(list_sum(list_transform(encw, e -> len(e) - len(replace(e, '<', '')))) AS BIGINT) AS n_unigram_tokens,
                array_to_string(list_transform(encw, e -> trim(replace(e, '><', ' '), '<>')), ' ') AS unigram_tokens
              FROM enc""")),

    Q("text_unigram_encode_sampled", // subword-regularization sampling
      // (Kudo 2018 §4 — the augmentation the unigram LM exists for) as a
      // PER-DOC driver gate under the pinned piece table: the draw is a pure
      // content hash (deterministic), the segmentation must still rebuild its
      // words (chars_preserved), and its token count sits in
      // [viterbi_n, n_chars] — Viterbi IS the piece-count minimum under this
      // vocab (every piece use saves one token and occurrences are
      // independent), so a sampled draw can only match or exceed it.
      // n_words is DuckDB-recomputed.
      (s, d) => {
        val stripped = regexp_replace(col("text"), "[<>]", "")
        Tables.documents(s, d)
          .select(col("doc_id"),
            TextFns.tokens(col("text")).as("__words"),
            graft.operators.Unigram.encodeSampled(
              stripped, fixedUnigramPieces, alpha = 0.5, seed = 7L).as("__toks"),
            graft.operators.Unigram.encode(
              stripped, fixedUnigramPieces).as("__vit"))
          .select(col("doc_id"),
            size(col("__words")).cast("long").as("n_words"),
            aggregate(col("__toks"), lit(0),
              (acc, t) => acc + length(t)).as("__tokChars"),
            aggregate(col("__words"), lit(0),
              (acc, w) => acc + length(w) -
                size(split(w, "[<>]")) + 1).as("__wordChars"),
            size(col("__toks")).cast("long").as("__nToks"),
            size(col("__vit")).cast("long").as("__nVit"))
          .select(col("doc_id"), col("n_words"),
            (col("__tokChars") === col("__wordChars")).as("chars_preserved"),
            (col("__nToks") >= col("__nVit") &&
              col("__nToks") <= col("__wordChars")).as("count_bounded"))
      },
      Some(wordCountGateOracle)),

    Q("text_unigram_fertility", // tokenizer-audit fertility under the pinned
      // unigram piece table (the text_bpe_fertility twin — comparing the two
      // tokenizers' fertility on the same corpus is exactly the audit this
      // table exists for); map-only, one Viterbi pass + the tokenize-once
      // word count
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          graft.operators.Unigram.encode(
            regexp_replace(col("text"), "[<>]", ""), fixedUnigramPieces).as("toks"),
          size(TextFns.tokens(regexp_replace(col("text"), "[<>]", "")))
            .cast("long").as("n_words"))
        .select(col("doc_id"), col("n_words"),
          size(col("toks")).cast("long").as("n_unigram_tokens"))
        .withColumn("fertility",
          round(col("n_unigram_tokens").cast("double") / col("n_words"), 6)),
      Some(unigramEncodeCtes + """,
              n AS (SELECT doc_id, n_words,
                CAST(list_sum(list_transform(encw, e -> len(e) - len(replace(e, '<', '')))) AS BIGINT) AS n_unigram_tokens
                FROM enc)
              SELECT doc_id, n_words, n_unigram_tokens,
                round(CAST(n_unigram_tokens AS DOUBLE) / n_words, 6) AS fertility
              FROM n""")),

    Q("text_lm_score", // CCNet-style LM quality signal: self-trained bigram
      // counts, per-doc mean bigram log-probability
      (s, d) => Curation.lmScore(Tables.documents(s, d)),
      Some(bigramCtes + """,
              cb AS (SELECT bg, count(*) AS c_bg FROM b GROUP BY bg),
              cw AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c_bg) AS c_w1
                FROM cb GROUP BY 1)
              SELECT doc_id, count(*) AS n_bigrams,
                round(avg(ln(CAST(c_bg AS DOUBLE) / CAST(c_w1 AS DOUBLE))), 6) AS lm_score
              FROM b JOIN cb USING (bg)
              JOIN cw ON string_split(bg, ' ')[1] = cw.w1
              GROUP BY doc_id""")),

    Q("text_lm_score_kn", // interpolated Kneser-Ney bigram LM score — the
      // smoothing CCNet-class perplexity filters actually train (KenLM's
      // default); the discount + continuation-probability arithmetic is pure
      // integer-count algebra in doubles, so fully hash-oracled against
      // DuckDB recomputing the identical expression tree
      (s, d) => Curation.lmScoreKneserNey(Tables.documents(s, d)),
      Some(knBucketCtes + """
              SELECT doc_id, n_bigrams, kn_score FROM s""")),

    Q("pipeline_perplexity_buckets", // CCNet's OUTPUT artifact: head/middle/
      // tail perplexity tertiles. NOT an ntile window (whole-corpus one-task
      // sort) — thresholds from ONE percentile aggregate broadcast back,
      // assignment map-only; thresholds and scores round to 6 so the
      // boundary comparison hash-oracles
      (s, d) => Curation.perplexityBuckets(Tables.documents(s, d)),
      Some(knBucketCtes + """
              SELECT doc_id, n_bigrams, kn_score, ppl_bucket FROM pb""")),

    Q("pipeline_curriculum_order", // curriculum data ordering (Bengio et al.
      // 2009): one sortable key per doc — bucket-major (easy tertile first),
      // 52-bit md5 shuffle within the bucket; the consumer's orderBy
      // range-partitions it, so the global training order never sorts in one
      // task. Same KN-tertile CTEs as pipeline_perplexity_buckets.
      (s, d) => Curation.curriculumOrder(Tables.documents(s, d)),
      Some(knBucketCtes + """
              SELECT doc_id, ppl_bucket,
                ppl_bucket * 4503599627370496 +
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                  AS order_key
              FROM pb""")),

    Q("pipeline_vocab_coverage", // tokenizer-vocabulary coverage monitor: the
      // corpus's OOV rate against a FROZEN vocab (top-20 tokens of the
      // doc_id % 20 = 0 reference slice, count-desc tie-to-token — the
      // deterministic stand-in for a shipped tokenizer). Map-only probe of
      // the LongSetContainsExpr hashed-set kernel — the drift signal that
      // catches a crawl going off-domain before training does. topN = 20
      // because the synthetic corpus has ~31 distinct tokens — 500 would be
      // vacuous (zero OOV); at 20 every doc carries OOV mass (mean ~0.33).
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.vocabCoverage(docs.filter(col("doc_id") % 20 =!= 0),
          Curation.frequentTokenVocab(docs.filter(col("doc_id") % 20 === 0), topN = 20))
      },
      Some("""WITH t AS (SELECT doc_id,
                list_filter(
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                  s -> len(s) > 0) AS toks
                FROM documents),
              ref AS (SELECT unnest(toks) AS tok FROM t WHERE doc_id % 20 = 0),
              v AS (SELECT tok FROM ref GROUP BY tok
                ORDER BY count(*) DESC, tok ASC LIMIT 20),
              vl AS (SELECT coalesce(list(tok), []) AS vl FROM v)
              SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(toks, x -> NOT list_contains(vl.vl, x))) AS BIGINT) AS n_oov,
                round(len(list_filter(toks, x -> NOT list_contains(vl.vl, x))) /
                  greatest(len(toks), 1), 6) AS oov_rate
              FROM t, vl WHERE doc_id % 20 <> 0""")),

    Q("text_lm_score_kn_transfer", // the ACTUAL CCNet deployment shape: KN
      // model FROZEN on one corpus half (even doc_ids), odd half scored under
      // it with the full interpolated backoff for unseen bigrams/contexts —
      // every case is count algebra, so fully hash-oracled; n_oov_bigrams is
      // the domain-shift signal DuckDB recomputes exactly
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.lmScoreKneserNeyTransfer(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1))
      },
      Some(bigramCtes + """,
              tb AS (SELECT doc_id, bg FROM b WHERE doc_id % 2 = 0),
              sb AS (SELECT doc_id, bg FROM b WHERE doc_id % 2 = 1),
              cb AS (SELECT bg, count(*) AS c_bg,
                  string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
                FROM tb GROUP BY bg),
              ls AS (SELECT w1, sum(c_bg) AS c_w1, count(*) AS n1p_w1
                FROM cb GROUP BY w1),
              rs AS (SELECT w2, count(*) AS n1p_w2 FROM cb GROUP BY w2),
              tot AS (SELECT sum(n1p_w2) AS n_types FROM rs),
              j AS (SELECT s.doc_id, cb.c_bg,
                  CASE WHEN cb.c_bg IS NOT NULL THEN
                      (cb.c_bg - 0.75) / ls.c_w1 + 0.75 * ls.n1p_w1 / ls.c_w1 *
                        (coalesce(CAST(rs.n1p_w2 AS DOUBLE), 1.0) / tot.n_types)
                    WHEN ls.c_w1 IS NOT NULL THEN
                      0.75 * ls.n1p_w1 / ls.c_w1 *
                        (coalesce(CAST(rs.n1p_w2 AS DOUBLE), 1.0) / tot.n_types)
                    ELSE coalesce(CAST(rs.n1p_w2 AS DOUBLE), 1.0) / tot.n_types
                  END AS p_kn
                FROM sb s
                LEFT JOIN cb ON s.bg = cb.bg
                LEFT JOIN ls ON string_split(s.bg, ' ')[1] = ls.w1
                LEFT JOIN rs ON string_split(s.bg, ' ')[2] = rs.w2
                CROSS JOIN tot)
              SELECT doc_id, count(*) AS n_bigrams,
                CAST(sum(CASE WHEN c_bg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_bigrams,
                round(avg(ln(p_kn)), 6) AS kn_score
              FROM j GROUP BY doc_id"""), headline = true),

    Q("text_nb_classify", // model-based filtering: multinomial Naive Bayes
      // (add-one smoothing) self-trained on the lang label and self-scored —
      // the CCNet/fastText classifier-routing step as one closed-form
      // Catalyst plan (train = one agg pass, model dense over vocab x classes,
      // score = one corpus equi-join; fixture self-accuracy 0.47 vs 0.20
      // chance, gated in ClassifySpec)
      (s, d) => Classify.naiveBayesSelf(Tables.documents(s, d)),
      Some(nbSelfScoredCtes + """,
              pred AS (SELECT doc_id, cand AS pred_lang, nb_score,
                row_number() OVER (PARTITION BY doc_id ORDER BY nb_score DESC, cand ASC) AS rn
                FROM scored)
              SELECT p.doc_id, d.lang, p.pred_lang, p.nb_score, p.pred_lang = d.lang AS correct
              FROM pred p JOIN documents d USING (doc_id) WHERE rn = 1"""), headline = true),

    Q("text_nb_metrics", // the evaluation table for the NB curation filter:
      // per-class precision/recall/F1 + support from ONE classes²-bounded
      // confusion aggregate; F1 derives from 6-rounded P/R so the table is
      // bit-reproducible
      (s, d) => Classify.classificationMetrics(
        Classify.naiveBayesSelf(Tables.documents(s, d))),
      Some(nbSelfScoredCtes + """,
              pred AS (SELECT doc_id, cand AS pred_lang,
                row_number() OVER (PARTITION BY doc_id ORDER BY nb_score DESC, cand ASC) AS rn
                FROM scored),
              conf AS (SELECT d.lang AS clazz, p.pred_lang AS pred, count(*) AS n
                FROM pred p JOIN documents d USING (doc_id) WHERE rn = 1 GROUP BY 1, 2),
              bt AS (SELECT clazz, CAST(sum(n) AS BIGINT) AS support FROM conf GROUP BY 1),
              bp AS (SELECT pred AS clazz, CAST(sum(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
              tp AS (SELECT clazz, n AS tp FROM conf WHERE clazz = pred),
              m AS (SELECT bt.clazz, support,
                coalesce(n_pred, CAST(0 AS BIGINT)) AS n_pred,
                coalesce(tp, CAST(0 AS BIGINT)) AS tp
                FROM bt LEFT JOIN bp USING (clazz) LEFT JOIN tp USING (clazz)),
              pr AS (SELECT clazz, support, n_pred, tp,
                CASE WHEN n_pred > 0 THEN round(CAST(tp AS DOUBLE) / n_pred, 6)
                     ELSE 0.0 END AS precision,
                round(CAST(tp AS DOUBLE) / support, 6) AS recall FROM m)
              SELECT clazz, support, n_pred, tp, precision, recall,
                CASE WHEN precision + recall > 0
                     THEN round(2 * precision * recall / (precision + recall), 6)
                     ELSE 0.0 END AS f1
              FROM pr""")),

    Q("text_nb_calibration", // reliability diagram for the NB gate: softmax
      // the per-class scores (max-subtracted), bin the winning confidence
      // into deciles, report per-bin mean confidence vs accuracy. Confidence
      // quantizes to integer micro-units immediately, so binning and the
      // per-bin means are exact integer arithmetic — bit-reproducible
      (s, d) => Classify.calibrationBins(
        Classify.naiveBayesScoresSelf(Tables.documents(s, d)), bins = 10),
      Some(nbSelfScoredCtes + """,
              soft AS (SELECT doc_id, cand, nb_score,
                exp(nb_score - max(nb_score) OVER (PARTITION BY doc_id)) AS e
                FROM scored),
              zz AS (SELECT *, sum(e) OVER (PARTITION BY doc_id) AS z,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY nb_score DESC, cand ASC) AS rn FROM soft),
              top AS (SELECT zz.doc_id, (zz.cand = d.lang) AS correct,
                CAST(round(e / z * 1000000) AS BIGINT) AS cm
                FROM zz JOIN documents d USING (doc_id) WHERE rn = 1),
              b AS (SELECT correct, cm,
                least(CAST((cm * 10) // 1000000 AS INT), 9) AS bin FROM top)
              SELECT bin, count(*) AS n,
                round(CAST(sum(cm) AS DOUBLE) / (count(*) * 1000000.0), 6) AS avg_conf,
                round(CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*), 6) AS accuracy
              FROM b GROUP BY bin""")),

    Q("text_nb_holdout", // the frozen-model train/apply split: NB fit on even
      // doc_ids, scored on the held-out odd half (out-of-vocabulary test
      // terms drop at the scoring join — standard multinomial-NB OOV); the
      // shape a production language/quality router actually runs
      (s, d) => {
        val docs = Tables.documents(s, d)
        Classify.naiveBayesTransfer(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) =!= 0))
      },
      Some(nbModelCtes("documents WHERE doc_id % 2 = 0") + """,
              s AS (SELECT doc_id, lang,
                unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
                FROM documents WHERE doc_id % 2 <> 0),
              stok AS (SELECT doc_id, lang, term FROM s WHERE len(term) > 0),
              sc AS (SELECT stok.doc_id, any_value(stok.lang) AS lang, model.cand,
                sum(model.logp) AS loglik
                FROM stok JOIN model ON stok.term = model.term GROUP BY stok.doc_id, model.cand),
              scored AS (SELECT doc_id, lang, cand, round(loglik + logprior, 6) AS nb_score
                FROM sc JOIN pri USING (cand)),
              pred AS (SELECT doc_id, lang, cand AS pred_lang, nb_score,
                row_number() OVER (PARTITION BY doc_id ORDER BY nb_score DESC, cand ASC) AS rn
                FROM scored)
              SELECT doc_id, lang, pred_lang, nb_score, pred_lang = lang AS correct
              FROM pred WHERE rn = 1""")),

    Q("pipeline_quality_quantile", // group-relative quality gate: keep docs at
      // or above their own language's median token count
      (s, d) => Curation.qualityQuantileFilter(Tables.documents(s, d), 0.5),
      Some("""WITH t AS (SELECT doc_id, COALESCE(lang, 'und') AS lang,
                CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
                FROM documents),
              th AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS lang_threshold
                FROM t GROUP BY lang)
              SELECT doc_id, t.lang, n_tokens, round(lang_threshold, 6) AS lang_threshold
              FROM t JOIN th USING (lang) WHERE n_tokens >= lang_threshold""")),

    Q("pipeline_gopher_repetition", // Gopher Table-A1 within-doc repetition:
      // top-bigram char fraction + duplicated-bigram covered-char fraction,
      // map-only via the native GramRepetitionExpr kernel (no exchange);
      // n = 2 keeps the signal non-vacuous on the small-vocab fixture — the
      // operator's defaults are the paper's n = 3 row
      (s, d) => Curation.gopherRepetitionStats(Tables.documents(s, d),
        n = 2, maxTopGramFrac = 0.20, maxDupGramFrac = 0.60),
      Some("""WITH base AS (SELECT doc_id,
                lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
              toks AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok,
                generate_subscripts(string_split(norm, ' '), 1) AS pos FROM base),
              offs AS (SELECT doc_id, tok, pos,
                coalesce(sum(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cstart FROM toks),
              grams AS (SELECT doc_id, pos, cstart,
                tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS gram
                FROM offs),
              g AS (SELECT doc_id, pos, cstart, gram, cstart + length(gram) AS cend
                FROM grams WHERE gram IS NOT NULL),
              counts AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
              top1 AS (SELECT doc_id, c * length(gram) AS top_chars FROM (
                SELECT doc_id, gram, c,
                  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rk
                FROM counts) WHERE rk = 1),
              dspan AS (SELECT g.doc_id, g.cstart, g.cend FROM g JOIN counts
                ON g.doc_id = counts.doc_id AND g.gram = counts.gram WHERE counts.c >= 2),
              cov AS (SELECT doc_id, cstart, cend,
                coalesce(max(cend) OVER (PARTITION BY doc_id ORDER BY cstart
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end FROM dspan),
              dchars AS (SELECT doc_id,
                sum(greatest(0, cend - greatest(cstart, prev_end))) AS dup_chars
                FROM cov GROUP BY 1)
              SELECT b.doc_id,
                round(coalesce(t.top_chars, 0) / greatest(length(b.norm), 1), 6) AS top_gram_frac,
                round(coalesce(d.dup_chars, 0) / greatest(length(b.norm), 1), 6) AS dup_gram_frac,
                (round(coalesce(t.top_chars, 0) / greatest(length(b.norm), 1), 6) <= 0.20 AND
                 round(coalesce(d.dup_chars, 0) / greatest(length(b.norm), 1), 6) <= 0.60) AS keep
              FROM base b LEFT JOIN top1 t USING (doc_id)
              LEFT JOIN dchars d USING (doc_id)""")),

    Q("dedup_edit_distance", // character-level near-dup: prefix-OR-suffix
      // blocked Levenshtein with a native banded early-abandon DP
      // (O(len*maxDist) per distinct candidate pair)
      (s, d) => Dedup.editDistancePairs(Tables.documents(s, d), maxDist = 20),
      Some(normCte + """,
              g AS (SELECT doc_id, norm, substr(norm, 1, 40) AS pb,
                substr(norm, greatest(length(norm) - 39, 1), 40) AS sb FROM t)
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                CAST(levenshtein(a.norm, b.norm) AS INTEGER) AS edit_dist
              FROM g a JOIN g b ON (a.pb = b.pb OR a.sb = b.sb) AND a.doc_id < b.doc_id
              WHERE levenshtein(a.norm, b.norm) <= 20""")),

    Q("dedup_exact",
      (s, d) => Dedup.exactDedup(Tables.documents(s, d)),
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS dup_count FROM documents
              GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""), headline = true),

    Q("dedup_exact_canonical", // canonical selection: per duplicate group keep
      // the LONGEST raw text (ties to smallest doc_id) — one skew-immune
      // max_by aggregation, no window sort of the duplicate group
      (s, d) => Dedup.exactDedupCanonical(Tables.documents(s, d),
        length(col("text")).cast("long")),
      Some(exactCanonicalOracle), headline = true),

    Q("dedup_exact_canonical_fp", // scale path of the canonical selection: same
      // argmax, but keyed on the 8-byte xxhash64 fingerprint instead of the
      // normalized text — the exchange never carries document bodies. The
      // OUTPUT (survivor id + dup_count) is identical to the norm-keyed form
      // barring a 64-bit collision (the same caveat the hash-oracled
      // dedup_incremental already carries), so it shares
      // dedup_exact_canonical's FULL hash oracle — promoted from rows-only.
      (s, d) => Dedup.exactDedupCanonicalByFingerprint(Tables.documents(s, d),
        length(col("text")).cast("long")),
      Some(exactCanonicalOracle)),

    Q("dedup_dup_spans", // cross-document duplicate SPANS (Lee et al. 2022
      // substring dedup, dataflow form): every 8-gram shared by >= 2 docs,
      // merged into maximal per-doc token spans. Wired on the xxhash64 gram
      // key (the scale path); the oracle keys on the literal gram string —
      // identical output barring a 64-bit collision (cf pipeline_curate_fp),
      // and DedupSpec asserts hashed == string-keyed on the fixture.
      (s, d) => Dedup.duplicateSpans(Tables.documents(s, d), n = 8, minDocs = 2),
      Some(dupSpanCtes + islandSpansSelect(8)), headline = true),

    Q("dedup_incremental_spans", // cross-snapshot duplicate spans: the new
      // batch (doc_id % 5 = 0) is span-checked against ITSELF (>= 2 batch
      // docs) and against the base corpus's gram set — the span-granularity
      // sibling of dedup_incremental, for continual-pretraining refreshes;
      // spans reported for batch docs only, base never re-processed
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.incrementalDuplicateSpans(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0), n = 8, minDocs = 2)
      },
      Some(posGramCtes(8) + """,
              bg AS (SELECT * FROM g2 WHERE doc_id % 5 = 0),
              baseg AS (SELECT DISTINCT gram FROM g2 WHERE doc_id % 5 <> 0),
              nd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM bg GROUP BY gram),
              h AS (SELECT bg.doc_id, bg.pos FROM bg
                JOIN nd ON bg.gram = nd.gram
                LEFT JOIN baseg ON bg.gram = baseg.gram
                WHERE nd.nd >= 2 OR baseg.gram IS NOT NULL)""" +
        hitIslandCtes(8) + islandSpansSelect(8))),

    Q("dedup_trim_spans", // the removal half of substring dedup: normalized
      // text rebuilt with every cross-doc duplicate span dropped (the
      // conservative remove-all-occurrences ExactSubstr policy); docs with no
      // duplicated span pass through whole
      (s, d) => Dedup.trimDuplicateSpans(Tables.documents(s, d), n = 8, minDocs = 2),
      Some(dupSpanCtes + trimSpansSelect("t", 8))),

    Q("text_dup_span_fraction", // per-doc fraction of tokens covered by
      // cross-doc duplicate spans — the boilerplate-share quality signal a
      // curation gate consumes; 0.0 for documents with no duplicated span
      (s, d) => Dedup.dupSpanFraction(Tables.documents(s, d), n = 8, minDocs = 2),
      Some(dupSpanCtes + """,
              sp AS (SELECT doc_id, min(pos) AS a, max(pos) + 7 AS b
                FROM s GROUP BY doc_id, island),
              c AS (SELECT doc_id, sum(b - a + 1) AS cov FROM sp GROUP BY doc_id)
              SELECT t.doc_id,
                round(coalesce(c.cov, 0) / greatest(len(t.toks), 1), 6) AS dup_span_fraction
              FROM t LEFT JOIN c ON t.doc_id = c.doc_id""")),

    Q("dedup_winnow_fingerprints", // winnowing (Schleimer et al. 2003 / MOSS):
      // SAMPLED document fingerprints with the w+k-1 detection guarantee at
      // ~2/(w+1) the gram count — the fingerprint table small enough to keep
      // across snapshots where duplicateSpans' exhaustive gram index is not.
      // md5-60-bit keys because the SELECTION depends on hash ORDER (an
      // engine-specific hash would pick different minima) — both engines
      // parse the same 15 hex digits, so the entry is fully hash-oracled;
      // xxhash64 is the scale default (DedupSpec covers both modes).
      (s, d) => Dedup.winnowFingerprints(Tables.documents(s, d),
        k = 5, w = 4, md5Keys = true),
      Some(winnowSelCtes + """
              SELECT doc_id, pos, fp FROM fps""")),

    Q("dedup_winnow_pairs", // the MOSS grouping step: pairs sharing >= 3
      // winnowing fingerprints, postings df-bounded to [2, 1000] BEFORE the
      // self-join (the containment pattern) so a stop-phrase
      // fingerprint caps at C(maxDf,2) bucket pairs. The guarantee makes this
      // a recall-floored near-dup detector: DedupSpec measures 1.0 recall vs
      // the exact 0.9-Jaccard truth at these params.
      (s, d) => Dedup.winnowPairs(Tables.documents(s, d),
        k = 5, w = 4, minShared = 3L, maxDf = 1000, md5Keys = true),
      Some(winnowSelCtes + """,
              good AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM fps) p0
                GROUP BY fp HAVING count(*) BETWEEN 2 AND 1000),
              b AS (SELECT DISTINCT doc_id, fp FROM fps WHERE fp IN (SELECT fp FROM good))
              SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
                CAST(count(*) AS BIGINT) AS shared_fps
              FROM b a JOIN b b2 ON a.fp = b2.fp AND a.doc_id < b2.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 3"""), headline = true),

    Q("dedup_winnow_incremental", // the cross-snapshot lifecycle the sampled
      // fingerprint table exists for: the new-crawl slice (doc_id % 20 = 0)
      // checked against the frozen rest-of-corpus's persisted (doc_id, fp)
      // table — base never re-fingerprinted, base postings df-bounded; the
      // w+k-1 guarantee carries across snapshots, so planted near-dup pairs
      // that straddle the split surface here
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.incrementalWinnowPairs(
          docs.filter(col("doc_id") % 20 === 0),
          docs.filter(col("doc_id") % 20 =!= 0),
          k = 5, w = 4, minShared = 3L, maxDf = 1000, md5Keys = true)
      },
      Some(winnowBatchPairsOracle)),

    Q("dedup_winnow_persisted", // the winnow index lifecycle ON DISK
      // (completing symmetry with the IVF persisted family):
      // the frozen base's fingerprints persist bucketed on fp
      // (Dedup.writeWinnowIndex), the new-crawl slice probes the table read
      // BACK from disk — so this entry's hash match proves the store/probe
      // round trip, and its output must equal dedup_winnow_incremental's
      // (identical oracle). PlanSpec pins that the bucketed base side joins
      // with ZERO exchanges — only batch-sized data ever shuffles.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_winnow_idx_${math.abs(d.hashCode)}"
        Dedup.writeWinnowIndex(
          Dedup.winnowFingerprints(docs.filter(col("doc_id") % 20 =!= 0),
            k = 5, w = 4, md5Keys = true),
          path, "graft_winnow_idx", buckets = 4)
        Dedup.winnowPairsAgainstIndex(
          Dedup.winnowFingerprints(docs.filter(col("doc_id") % 20 === 0),
            k = 5, w = 4, md5Keys = true),
          s.table("graft_winnow_idx"), minShared = 3L, maxDf = 1000)
      },
      Some(winnowBatchPairsOracle), headline = true),

    Q("dedup_winnow_persisted_append", // the winnow index lifecycle's APPEND
      // half (the sim_ivf_persisted_append_topk contract): build the bucketed
      // table on HALF the base snapshot, append the other half — one
      // bucketing shuffle for the delta, no existing bucket file rewritten,
      // same bucket spec enforced by Spark — then probe the union. Output
      // must equal probing a from-scratch index (dedup_winnow_persisted) and
      // the in-memory form (dedup_winnow_incremental): all three share this
      // oracle, so the driver hash-match IS the append≡rebuild equality.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = docs.filter(col("doc_id") % 20 =!= 0)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_winnow_idx_app_${math.abs(d.hashCode)}"
        Dedup.writeWinnowIndex(
          Dedup.winnowFingerprints(base.filter(col("doc_id") % 2 === 0),
            k = 5, w = 4, md5Keys = true),
          path, "graft_winnow_idx_app", buckets = 4)
        Dedup.appendWinnowIndex(
          Dedup.winnowFingerprints(base.filter(col("doc_id") % 2 === 1),
            k = 5, w = 4, md5Keys = true),
          path, "graft_winnow_idx_app", buckets = 4)
        Dedup.winnowPairsAgainstIndex(
          Dedup.winnowFingerprints(docs.filter(col("doc_id") % 20 === 0),
            k = 5, w = 4, md5Keys = true),
          s.table("graft_winnow_idx_app"), minShared = 3L, maxDf = 1000)
      },
      Some(winnowBatchPairsOracle)),

    Q("dedup_winnow_persisted_delete", // the winnow index lifecycle's DELETE
      // half (completing build/append/delete/probe
      // symmetry with sim_ivf_persisted_delete_topk): build the bucketed
      // table on the base snapshot, append DECOYS — the probe batch's own
      // texts under shifted doc_ids, so every decoy WOULD surface as a
      // high-shared_fps pair — then revoke exactly the decoy ids
      // (Dedup.deleteFromWinnowIndex: affected fp buckets discovered by a
      // column-pruned broadcast semi join, only those buckets' files
      // rewritten, checked trash-then-rename swap) and probe. The oracle is
      // dedup_winnow_persisted's base-only rebuild, so the driver hash-match
      // IS the delete ≡ rebuild-over-the-remainder proof: one leaked decoy
      // pair or one over-deleted base row breaks it.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val batch = docs.filter(col("doc_id") % 20 === 0)
        val decoys = batch.select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_winnow_idx_del_${math.abs(d.hashCode)}"
        Dedup.writeWinnowIndex(
          Dedup.winnowFingerprints(docs.filter(col("doc_id") % 20 =!= 0),
            k = 5, w = 4, md5Keys = true),
          path, "graft_winnow_idx_del", buckets = 4)
        Dedup.appendWinnowIndex(
          Dedup.winnowFingerprints(decoys, k = 5, w = 4, md5Keys = true),
          path, "graft_winnow_idx_del", buckets = 4)
        val decoyIds = decoys.select("doc_id").collect().map(_.getLong(0))
        val affected = Dedup.deleteFromWinnowIndex(s, path, "graft_winnow_idx_del",
          decoyIds, buckets = 4)
        require(affected > 0, "decoy delete touched no bucket — fixture broken")
        Dedup.winnowPairsAgainstIndex(
          Dedup.winnowFingerprints(batch, k = 5, w = 4, md5Keys = true),
          s.table("graft_winnow_idx_del"), minShared = 3L, maxDf = 1000)
      },
      Some(winnowBatchPairsOracle), headline = true),

    Q("dedup_winnow_persisted_compact", // bucketed-layout COMPACTION:
      // build on half the base, append the other half —
      // each fp bucket now holds one file per write, the append-side
      // fragmentation every probe then pays in file opens — compact
      // (Lake.compactBucketed: only multi-file buckets rewritten, one file
      // per bucket, staged + checked trash-then-rename swap), and probe the
      // compacted table. Shares the append/rebuild oracle, so the hash-match
      // IS the compaction-preserves-every-probe-answer proof; the file-count
      // drop itself is asserted in LakeSpec.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = docs.filter(col("doc_id") % 20 =!= 0)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_winnow_idx_cmp_${math.abs(d.hashCode)}"
        Dedup.writeWinnowIndex(
          Dedup.winnowFingerprints(base.filter(col("doc_id") % 2 === 0),
            k = 5, w = 4, md5Keys = true),
          path, "graft_winnow_idx_cmp", buckets = 4)
        Dedup.appendWinnowIndex(
          Dedup.winnowFingerprints(base.filter(col("doc_id") % 2 === 1),
            k = 5, w = 4, md5Keys = true),
          path, "graft_winnow_idx_cmp", buckets = 4)
        val compacted = graft.sources.Lake.compactBucketed(
          s, path, "graft_winnow_idx_cmp", "fp", buckets = 4)
        require(compacted > 0, "append left no fragmented bucket — fixture broken")
        Dedup.winnowPairsAgainstIndex(
          Dedup.winnowFingerprints(docs.filter(col("doc_id") % 20 === 0),
            k = 5, w = 4, md5Keys = true),
          s.table("graft_winnow_idx_cmp"), minShared = 3L, maxDf = 1000)
      },
      Some(winnowBatchPairsOracle), headline = true),

    Q("dedup_winnow_persisted_rebucket", // bucket-count REBUILD (the
      // mutation compaction defers to): build on half the base
      // at 4 buckets, append the other half, then RE-BUCKET to 8
      // (Lake.rebucketBucketed — whole-table staged rewrite through the
      // shared rewriteBuckets protocol, then the catalog entry recreated
      // with the n′ spec), and probe the re-bucketed table. Shares the
      // build/append/compact oracle, so the hash-match IS the
      // rebucket-preserves-every-probe-answer proof; the layout change
      // itself (file count, zero-exchange probe plan at n′) is asserted in
      // LakeSpec.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = docs.filter(col("doc_id") % 20 =!= 0)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_winnow_idx_reb_${math.abs(d.hashCode)}"
        Dedup.writeWinnowIndex(
          Dedup.winnowFingerprints(base.filter(col("doc_id") % 2 === 0),
            k = 5, w = 4, md5Keys = true),
          path, "graft_winnow_idx_reb", buckets = 4)
        Dedup.appendWinnowIndex(
          Dedup.winnowFingerprints(base.filter(col("doc_id") % 2 === 1),
            k = 5, w = 4, md5Keys = true),
          path, "graft_winnow_idx_reb", buckets = 4)
        graft.sources.Lake.rebucketBucketed(s, path, "graft_winnow_idx_reb",
          "fp", oldBuckets = 4, newBuckets = 8)
        Dedup.winnowPairsAgainstIndex(
          Dedup.winnowFingerprints(docs.filter(col("doc_id") % 20 === 0),
            k = 5, w = 4, md5Keys = true),
          s.table("graft_winnow_idx_reb"), minShared = 3L, maxDf = 1000)
      },
      Some(winnowBatchPairsOracle), headline = true),

    Q("dedup_minhash_lsh", // DRIVER-VISIBLE recall gate (was rows-only):
      // MinHash-LSH candidate pairs (16 bands x 4 rows, est-Jaccard >= 0.5)
      // vs the EXACT prefix-blocked 3-gram Jaccard truth at the same 0.5
      // threshold — the DedupSpec gate, promoted: DuckDB recomputes
      // n_true_pairs from the same truth definition and expects recall_ok
      // (floor 0.8) to be TRUE.
      (s, d) => {
        val docs = Tables.documents(s, d)
        pairRecallGate(
          Dedup.ngramJaccardPairs(docs, n = 3, prefixLen = 40, threshold = 0.5),
          Dedup.minhashLshPairs(docs, threshold = 0.5),
          floor = 0.8)
      },
      Some(jaccardPairCtes + """
              SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, TRUE AS recall_ok
              FROM p WHERE jaccard >= 0.5"""), headline = true),

    Q("dedup_simhash", // DRIVER-VISIBLE recall gate: pigeonhole banding makes
      // candidate recall EXACTLY 1.0 at the Hamming budget (a pair within
      // Hamming <= 8 of 64 bits matches at least one of the 9 bands) — the
      // DedupSpec equality pin, promoted: the all-pairs Hamming truth is
      // recomputed in-entry (bit_count over a bounded nested-loop join) and
      // every truth pair must appear among the banded candidates.
      (s, d) => {
        val docs = Tables.documents(s, d)
        // simhashes materialize ONCE (the gate one-scan discipline) and
        // feed the all-pairs truth, its broadcast twin, AND the banded
        // candidate pairs — the corpus used to tokenize+sign three times.
        // The truth's nested-loop stream side does O(n) bit_counts per row:
        // repartitioned to the session parallelism (Similarity.fanOut
        // rationale; the single 64-bit word rides the exchange, not text).
        val sh = gateCkpt(Dedup.simhashes(docs))
        val p = s.sparkContext.defaultParallelism
        val a = sh.select(col("doc_id").as("a_id"), col("simhash").as("__ha"))
          .repartition(p, col("a_id"))
        val b = sh.select(col("doc_id").as("b_id"), col("simhash").as("__hb"))
        val truth = a.join(broadcast(b), col("a_id") < col("b_id"))
          .filter(bit_count(col("__ha").bitwiseXOR(col("__hb"))) <= 8)
          .select(col("a_id"), col("b_id"))
        val missing = truth.join(
            Dedup.simhashPairsOf(sh, maxHamming = 8).select("a_id", "b_id"),
            Seq("a_id", "b_id"), "left_anti")
          .agg(count(lit(1)).as("__miss"))
        docs.agg(count(lit(1)).as("n_docs")).crossJoin(missing)
          .select(col("n_docs"), (col("__miss") === 0).as("recall_exact_one"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS recall_exact_one
              FROM documents""")),

    Q("dedup_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3,
        prefixLen = 40, threshold = 0.3),
      Some(jaccardPairCtes + """
              SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.3"""), headline = true),

    Q("dedup_containment", // asymmetric near-dup: a short doc pasted inside a
      // longer one scores C(short->long) ~ 1 where Jaccard stays low; directed
      // (contained, container) verdicts drive the drop-the-quote decision.
      // Candidates + |A∩B| both come from ONE df-bounded gram join (df in
      // [2, 20]); exact here (fixture max df = 7 < 20, spec-asserted vs the
      // array-intersect twin). Spark keys grams by xxhash64, the oracle by the
      // literal strings — identical barring 64-bit collision.
      (s, d) => Dedup.containmentPairs(Tables.documents(s, d), n = 3,
        maxDf = 20, threshold = 0.8),
      Some(containmentOracle(normCte, maxDf = 20))),

    Q("dedup_containment_prefix", // same semantics through the PPJoin-style
      // positional prefix filter: candidates must share one of the contained
      // side's RAREST |g|-ceil(t|g|)+1 grams (pigeonhole bound), so the
      // bucket pair explosion fires only on shared rare grams; exact |A∩B|
      // then comes from array_intersect over candidate gram arrays.
      // WIRED IN ITS WINNING REGIME: the raw sf fixtures
      // have max gram df 25 — no mid-df boilerplate, the regime where the
      // prefix machinery is pure overhead and the base form wins (measured
      // A/B). So this entry PLANTS the regime the form exists for: each doc
      // gains a deterministic boilerplate tail whose inner gram is shared by
      // its doc_id%10 group (df ≈ n/10 — mid-df), plus one corpus-wide gram
      // (df = n, dropped by the bound on both sides), and runs at
      // maxDf = 1000. Under the base form each planted gram would explode
      // into C(n/10, 2) bucket pairs per group; the prefix flag culls the
      // pair space to shared-RARE-gram candidates. The oracle replays the
      // same augmentation verbatim — still hash-exact; form-equivalence vs
      // the base form at equal params stays pinned in PropertySpec. The
      // fixture is the doc_id%4 quarter-corpus (kept small): at fixture
      // scale NO pair space explodes enough for the
      // prefix machinery's constants to pay for themselves — the measured
      // WIN evidence for this form is a 200k-doc mid-df A/B (5.1 s vs the
      // base form's 13.8 s) — so the sweep entry's
      // job is exercising
      // the distinctive dataflow (rarest-first flags, flag-only buckets,
      // array-intersect rescoring) hash-exactly, not re-proving the win.
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("doc_id") % 4 === 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" zqbp zqboiler zqplate zqg"),
              (col("doc_id") % 10).cast("string")).as("text"))
        Dedup.containmentPairsPrefix(docs, n = 3, maxDf = 1000, threshold = 0.8)
      },
      Some(containmentOracle(
        """WITH t AS (SELECT doc_id, lower(trim(regexp_replace(
             text || ' zqbp zqboiler zqplate zqg' || CAST(doc_id % 10 AS VARCHAR),
             '\s+', ' ', 'g'))) AS norm FROM documents WHERE doc_id % 4 = 0)""",
        maxDf = 1000))),

    Q("dedup_clusters", // connected components over ngram-jaccard pairs
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.resolveClusters(docs,
          Dedup.ngramJaccardPairs(docs, n = 3, prefixLen = 40, threshold = 0.3))
      },
      Some(jaccardClustersOracle)),

    Q("dedup_clusters_star", // same components via large-star/small-star
      // contraction — diameter-independent round bound; same oracle
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.resolveClustersStar(docs,
          Dedup.ngramJaccardPairs(docs, n = 3, prefixLen = 40, threshold = 0.3))
      },
      Some(jaccardClustersOracle)),

    Q("dedup_embedding_cosine",
      (s, d) => Similarity.cosineDupPairs(Tables.embeddings(s, d), 0.4),
      Some(cosinePairCtes + """
              SELECT a_id, b_id, cosine FROM p WHERE cosine >= 0.4""")),

    Q("dedup_embedding_cosine_lsh", // LSH-blocked scale form as a
      // DRIVER-VISIBLE recall gate vs the exact all-pairs truth (the
      // dedup_embedding_cosine oracle's own definition — DuckDB recomputes
      // n_true_pairs): nbits=3, tables=8 gives pair recall 0.879 at
      // threshold 0.4 on the near-orthogonal fixture (nbits=8: 0.12), gated
      // at the SimilaritySpec 0.8 floor; precision is exactly 1 (the LSH
      // form exact-filters every candidate), also asserted.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        pairRecallGate(
          Similarity.cosineDupPairs(emb, 0.4),
          Similarity.cosineDupPairsLsh(emb, 0.4, dim = 64, nbits = 3, tables = 8),
          floor = 0.8, withPrecision = true)
      },
      Some(cosinePairRecallOracle), headline = true),

    Q("dedup_clusters_canonical", // canonical-selection cluster resolution:
      // components over ngram-jaccard pairs, survivor = LONGEST member
      // (n_chars, ties to smallest id) instead of min-id — the curation
      // keep-rule when a cluster mixes full articles with truncated variants
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.resolveClustersCanonical(docs,
          Dedup.ngramJaccardPairs(docs, n = 3, prefixLen = 40, threshold = 0.3),
          quality = col("n_chars"))
      },
      Some(jaccardClusterCtes + """,
              rep AS (SELECT cluster_id, id AS rep FROM
                (SELECT cc.id, cc.cluster_id,
                   row_number() OVER (PARTITION BY cc.cluster_id
                     ORDER BY d.n_chars DESC, cc.id ASC) AS rn
                 FROM cc JOIN documents d ON d.doc_id = cc.id) WHERE rn = 1)
              SELECT cc.id AS doc_id, cc.cluster_id, cc.id = rep.rep AS keep
              FROM cc JOIN rep USING (cluster_id)""")),

    Q("dedup_embedding_incremental", // cross-snapshot EMBEDDING near-dedup as
      // a DRIVER-VISIBLE gate: new vectors (vec_id % 5 = 0) keep/drop vs
      // within-batch and frozen-base cosine near-dups, candidates from shared
      // hyperplane buckets (base tag table = the persisted artifact at
      // scale). Gated vs the EXACT all-pairs truth: batch vectors with a true
      // base near-dup must be flagged at >= the SimilaritySpec 0.8 recall
      // floor (measured 0.879 at nbits=3, tables=8), and every DROP must have
      // an exact witness (precision 1 — candidates exact-filter). n_batch is
      // DuckDB-exact.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val isBatch = (c: Column) => c % 5 === 0
        val verdicts = Similarity.incrementalCosineDedup(
          batch = emb.filter(col("vec_id") % 5 === 0),
          base = emb.filter(col("vec_id") % 5 =!= 0),
          threshold = 0.4, dim = 64, nbits = 3, tables = 8)
        val truth = Similarity.cosineDupPairs(emb, 0.4)
        val baseWitness = truth
          .filter(isBatch(col("a_id")) && !isBatch(col("b_id")))
          .select(col("a_id").as("vec_id"))
          .union(truth.filter(isBatch(col("b_id")) && !isBatch(col("a_id")))
            .select(col("b_id").as("vec_id")))
          .distinct().withColumn("__bw", lit(true))
        val selfWitness = truth
          .filter(isBatch(col("a_id")) && isBatch(col("b_id")))
          .select(col("b_id").as("vec_id"))
          .distinct().withColumn("__sw", lit(true))
        verdicts.join(baseWitness, Seq("vec_id"), "left")
          .join(selfWitness, Seq("vec_id"), "left")
          .agg(count(lit(1)).as("n_batch"),
            sum(when(col("__bw").isNotNull, 1L).otherwise(0L)).as("__nw"),
            sum(when(col("__bw").isNotNull && col("base_match_count") > 0, 1L)
              .otherwise(0L)).as("__nwf"),
            sum(when(!col("keep") && col("__bw").isNull && col("__sw").isNull, 1L)
              .otherwise(0L)).as("__unjust"))
          .select(col("n_batch"),
            (col("__nwf") >= col("__nw") * 0.8).as("base_recall_ok"),
            (col("__unjust") === 0).as("drops_justified"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_batch, TRUE AS base_recall_ok,
              TRUE AS drops_justified
              FROM embeddings WHERE vec_id % 5 = 0""")),

    Q("w_stream_cosine_matches", // streaming EMBEDDING near-dup suspects as a
      // DRIVER-VISIBLE stream≡batch gate: new vectors (vec_id % 5 = 0) stream
      // against the frozen base's hyperplane tag table — per-row buckets,
      // stateless stream-static LEFT SEMI join, one vec-keyed dropDuplicates
      // (nbits=3, tables=8 = the measured dedup_embedding_cosine_lsh
      // operating point). The SAME stateless pipeline re-runs in batch over
      // the same rows; the settled stream output must equal it multiset-
      // exactly (the StreamingSpec pin, promoted). n_new_vecs is DuckDB-exact.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // localCheckpoint: same persisted-artifact rationale as the minhash
        // bucket table — one tag build serves the stream pass and batch twin
        val baseTags = Similarity.hyperplaneTagTable(
          emb.filter(col("vec_id") % 5 =!= 0), dim = 64, nbits = 3, tables = 8)
          .localCheckpoint(true)
        def flagged(src: DataFrame): DataFrame =
          StreamingViews.streamCosineBaseMatches(
            src.filter(col("vec_id") % 5 === 0).select("vec_id", "embedding"),
            baseTags, dim = 64, nbits = 3, tables = 8, unboundedStateOk = true)
            .select(col("vec_id"))
        val streamed = StreamingViews.runToMemory(s, s"$d/embeddings.parquet",
          "graft_wcos_sink", flagged, outputMode = "append")
        emb.filter(col("vec_id") % 5 === 0).agg(count(lit(1)).as("n_new_vecs"))
          .crossJoin(multisetEqualCol(streamed, flagged(emb)))
          .select(col("n_new_vecs"), col("__eq").as("stream_equals_batch"))
      },
      Some(streamGateOracle("n_new_vecs", "embeddings WHERE vec_id % 5 = 0"))),

    Q("dedup_semantic_pairs", // SemDeDup k-means-cell-blocked cosine pairs as
      // a DRIVER-VISIBLE recall gate vs the exact all-pairs truth: nlist
      // auto-sizes to n/512 (per-cell quadratic work constant across scale
      // factors), nassign=3 recovers boundary pairs — measured recall 1.0 at
      // sf0.01 / 0.84 at sf0.1 (nassign=2 fell to 0.62 at 2000 vectors on
      // the near-orthogonal fixture — the gate surfaced it; nassign=1: 0.56
      // even at 500), gated at the SimilaritySpec 0.8 floor; precision
      // exactly 1 (exact cosine filter reruns on every candidate). DuckDB
      // recomputes n_true_pairs from the same truth definition.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        pairRecallGate(
          Similarity.cosineDupPairs(emb, 0.4),
          Similarity.semanticDupPairs(emb, 0.4, nassign = 3),
          floor = 0.8, withPrecision = true)
      },
      Some(cosinePairRecallOracle)),

    Q("dedup_semantic", // SemDeDup keep/drop as a DRIVER-VISIBLE verdict gate:
      // components over within-cell pairs, smallest vec_id survives. Gated:
      // every cluster keeps EXACTLY its min-id member (survivors_min_id) and
      // every dropped vector participates in at least one EXACT cosine>=0.4
      // pair (drops_justified — no vector is discarded on trained-blocking
      // evidence alone); n_vecs is DuckDB-exact.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val res = Similarity.semanticDedup(emb, 0.4, nassign = 3)
        val truth = Similarity.cosineDupPairs(emb, 0.4)
        val hasDup = truth.select(col("a_id").as("vec_id"))
          .union(truth.select(col("b_id").as("vec_id"))).distinct()
          .withColumn("__has_dup", lit(true))
        val clusterOk = res.groupBy("cluster_id")
          .agg(min(col("vec_id")).as("__mn"),
            min(when(col("keep"), col("vec_id"))).as("__kmin"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("__nk"))
          .agg(sum(when(col("__mn") === col("__kmin") && col("__nk") === 1L, 0L)
            .otherwise(1L)).as("__badc"))
        val dropOk = res.join(hasDup, Seq("vec_id"), "left")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(!col("keep") && col("__has_dup").isNull, 1L).otherwise(0L))
              .as("__unjust"))
        dropOk.crossJoin(clusterOk)
          .select(col("n_vecs"), (col("__badc") === 0).as("survivors_min_id"),
            (col("__unjust") === 0).as("drops_justified"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_vecs, TRUE AS survivors_min_id,
              TRUE AS drops_justified
              FROM embeddings""")),

    Q("sim_topk_bruteforce",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 5),
              s AS (SELECT query_id, vec_id,
                round(list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(emb)), i -> qe[i] * emb[i])),
                  (acc, x) -> acc + x), 6) AS cosine
                FROM q, e WHERE query_id != vec_id),
              r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id) AS rank FROM s)
              SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10"""), headline = true),

    Q("sim_lsh_topk", // DRIVER-VISIBLE recall gate (was rows-only): hyperplane
      // LSH top-10 vs the exact brute-force twin, mean recall@10 over the
      // spec's 20-query set gated at the 0.8 floor (measured 0.865 at
      // nbits=3, tables=8 — nbits=6 was 0.22; SimilaritySpec). DuckDB
      // recomputes n_queries/n_results exactly and expects recall_ok = TRUE.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        topkRecallGate(
          Similarity.bruteForceTopK(emb, q, 10),
          Similarity.lshTopK(emb, q, 10, dim = 64, nbits = 3, tables = 8),
          k = 10, floor = 0.8)
      },
      Some(topkGateOracle("recall_ok")), headline = true),

    Q("sim_ivf_topk", // DRIVER-VISIBLE recall gate: k-means-trained IVF
      // (nlist=8, nprobe=5) vs brute force — measured recall@10 0.905,
      // gated at the spec's 0.8 floor; counts hash-oracled, boolean TRUE
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        topkRecallGate(
          Similarity.bruteForceTopK(emb, q, 10),
          Similarity.ivfTopK(emb, q, 10, nlist = 8, nprobe = 5),
          k = 10, floor = 0.8)
      },
      Some(topkGateOracle("recall_ok"))),

    Q("sim_ivf_persisted_topk", // the index LIFECYCLE, now as a DRIVER-VISIBLE
      // bit-equality gate: build the cell-partitioned index on disk once,
      // probe it partition-pruned (PlanSpec pins pruning + the single
      // candidate exchange), and compare the probe MULTISET-EXACTLY against
      // the in-memory ivfTopK under the same deterministic training — the
      // SimilaritySpec equality pin, made to fail the driver's hash compare
      // if the persisted path ever diverges.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        val cents = Similarity.trainCentroidsSampled(emb, 8, 3)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_index_${math.abs(d.hashCode)}"
        Similarity.writeIvfIndex(emb, cents, path)
        persistedEqualityGate(
          Similarity.ivfProbePersisted(s, path, cents, q, 10, nprobe = 5),
          Similarity.ivfTopK(emb, q, 10, nlist = 8, nprobe = 5))
      },
      Some(topkGateOracle("persisted_equals_memory")), headline = true),

    Q("sim_ivf_persisted_append_topk", // the index lifecycle's APPEND half
      // (FAISS add-after-train): build the cell-partitioned index on the
      // base corpus, append the new batch under the SAME frozen centroids
      // (map-only assignment over only the new rows; no directory rewritten),
      // then probe the union partition-pruned — and require it MULTISET-EXACT
      // against the in-memory probe over the full corpus with the same
      // centroids. A dropped batch row, a stale cell, or an assignment drift
      // between build and append all fail the driver's hash compare.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
        val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
        val q = emb.filter(col("vec_id") < 20)
        val cents = Similarity.trainCentroidsSampled(base, 8, 3)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_append_${math.abs(d.hashCode)}"
        Similarity.writeIvfIndex(base, cents, path)
        Similarity.appendIvfIndex(batch, cents, path)
        persistedEqualityGate(
          Similarity.ivfProbePersisted(s, path, cents, q, 10, nprobe = 5),
          Similarity.ivfProbeAssigned(
            Similarity.ivfAssignments(emb, cents), cents, q, 10, nprobe = 5))
      },
      Some(topkGateOracle("persisted_equals_memory"))),

    Q("sim_ivf_persisted_compact_topk", // cell-directory COMPACTION — the
      // maintenance half the append lifecycle needs (every append lands new
      // files per cell; after N appends each probe opens N files per probed
      // cell): build on the base, append the batch (cells now fragmented),
      // compact (Similarity.compactIvfIndex — only multi-file cells rewritten
      // into one file each, staged + checked trash-then-rename), then probe
      // partition-pruned and require it MULTISET-EXACT against the in-memory
      // probe over the full corpus — compaction must change file COUNT and
      // nothing else. Completes build / append / delete / compact / probe
      // symmetry with the bucketed winnow index family.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
        val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
        val q = emb.filter(col("vec_id") < 20)
        val cents = Similarity.trainCentroidsSampled(base, 8, 3)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_compact_${math.abs(d.hashCode)}"
        Similarity.writeIvfIndex(base, cents, path)
        Similarity.appendIvfIndex(batch, cents, path)
        val compacted = Similarity.compactIvfIndex(s, path)
        require(compacted > 0, "append left no fragmented cell — fixture broken")
        persistedEqualityGate(
          Similarity.ivfProbePersisted(s, path, cents, q, 10, nprobe = 5),
          Similarity.ivfProbeAssigned(
            Similarity.ivfAssignments(emb, cents), cents, q, 10, nprobe = 5))
      },
      Some(topkGateOracle("persisted_equals_memory")), headline = true),

    Q("sim_ivf_persisted_resplit_topk", // cell-count REBUILD from the index
      // itself (the cell-directory half of the layout rebuilds): build the
      // persisted index under nlist=8 centroids, then RE-SPLIT it to a
      // fresh nlist=16 set (Similarity.resplitIvfIndex — the index stores
      // the vectors, so re-assignment is one map-only argmax pass over the
      // INDEX, never a corpus rescan; staged cell-partitioned write, swap
      // over the union of old and new cell ids), and probe under the NEW
      // centroids. Gate: MULTISET-EXACT against the in-memory probe over
      // the corpus with the same new centroids — a dropped row, a stale old
      // cell, or an assignment drift between split and probe all fail the
      // driver's hash compare.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        val cents8 = Similarity.trainCentroidsSampled(emb, 8, 3)
        val cents16 = Similarity.trainCentroidsSampled(emb, 16, 3)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_resplit_${math.abs(d.hashCode)}"
        Similarity.writeIvfIndex(emb, cents8, path)
        val newCells = Similarity.resplitIvfIndex(s, path, cents16)
        require(newCells > 0, s"re-split landed $newCells cells — fixture broken")
        persistedEqualityGate(
          Similarity.ivfProbePersisted(s, path, cents16, q, 10, nprobe = 5),
          Similarity.ivfProbeAssigned(
            Similarity.ivfAssignments(emb, cents16), cents16, q, 10, nprobe = 5))
      },
      Some(topkGateOracle("persisted_equals_memory")), headline = true),

    Q("sim_ivf_persisted_delete_topk", // the lifecycle's DELETE half (FAISS
      // remove_ids), completing build / append / delete / probe: build on the
      // full corpus, delete the vec_id % 7 == 3 slice (cell-pruned staged
      // rewrites — only affected cell directories are touched, an emptied
      // cell vanishes), then probe — and require it MULTISET-EXACT against
      // the in-memory probe over the SURVIVOR corpus under the same frozen
      // centroids. A surviving deleted row, a half-rewritten cell, or a
      // stale staged file all fail the driver's hash compare.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val survivors = emb.filter(pmod(col("vec_id"), lit(7)) =!= 3)
        val q = survivors.filter(col("vec_id") < 20)
        val cents = Similarity.trainCentroidsSampled(emb, 8, 3)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_delete_${math.abs(d.hashCode)}"
        Similarity.writeIvfIndex(emb, cents, path)
        val ids = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
          .select(col("vec_id")).collect().map(_.getLong(0)) // model-scale batch
        Similarity.deleteFromIvfIndex(s, path, ids)
        persistedEqualityGate(
          Similarity.ivfProbePersisted(s, path, cents, q, 10, nprobe = 5),
          Similarity.ivfProbeAssigned(
            Similarity.ivfAssignments(survivors, cents), cents, q, 10, nprobe = 5))
      },
      Some(topkGateOracle("persisted_equals_memory", "vec_id < 20 AND vec_id % 7 <> 3"))),

    Q("sim_ivfpq_persisted_delete_topk", // the IVFADC lifecycle's DELETE
      // half — deleteFromIvfIndex is layout-agnostic (rows rewrite whole,
      // whatever their columns), so the SAME primitive serves the coded
      // index. Gate: probing the deleted-from index is MULTISET-EXACT
      // against probing a fresh REBUILD of the survivors under the same
      // frozen (centroids, codebooks) — delete ≡ rebuild-without-the-ids is
      // the lifecycle invariant.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val survivors = emb.filter(pmod(col("vec_id"), lit(7)) =!= 3)
        val q = survivors.filter(col("vec_id") < 20)
        val (cents, books) = Similarity.trainIvfPq(emb, nlist = 8, m = 16,
          ksub = 32, iters = 3)
        val tmp = System.getProperty("java.io.tmpdir")
        val pathA = s"$tmp/graft_ivfpq_delete_${math.abs(d.hashCode)}"
        Similarity.writeIvfPqIndex(emb, cents, books, pathA)
        val ids = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
          .select(col("vec_id")).collect().map(_.getLong(0))
        Similarity.deleteFromIvfIndex(s, pathA, ids)
        // in-memory survivor twin replaces the survivors-rebuild index write
        // (see sim_ivfpq_persisted_append_topk): same gate verdict, one
        // full persisted write less, independently-encoded compare side
        persistedEqualityGate(
          Similarity.ivfPqProbePersisted(s, pathA, cents, books,
            q, survivors, 10, nprobe = 6, rerankFactor = 8),
          Similarity.ivfPqTopK(survivors, q, 10, (cents, books),
            nprobe = 6, rerankFactor = 8))
      },
      Some(topkGateOracle("persisted_equals_memory", "vec_id < 20 AND vec_id % 7 <> 3"))),

    Q("sim_ivfpq_persisted_compact_topk", // the IVFADC COMPACTION twin —
      // compactIvfIndex is layout-agnostic (cells rewrite whole, whatever
      // their columns), so the SAME primitive defragments the coded index.
      // Gate: build on half, append the rest (cells fragmented), compact,
      // then the ADC probe must be MULTISET-EXACT against probing a fresh
      // one-shot rebuild under the same frozen (centroids, codebooks).
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
        val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
        val q = emb.filter(col("vec_id") < 20)
        val (cents, books) = Similarity.trainIvfPq(base, nlist = 8, m = 16,
          ksub = 32, iters = 3)
        val tmp = System.getProperty("java.io.tmpdir")
        val pathA = s"$tmp/graft_ivfpq_compact_${math.abs(d.hashCode)}"
        Similarity.writeIvfPqIndex(base, cents, books, pathA)
        Similarity.appendIvfPqIndex(batch, cents, books, pathA)
        val compacted = Similarity.compactIvfIndex(s, pathA)
        require(compacted > 0, "append left no fragmented cell — fixture broken")
        // in-memory twin replaces the one-shot-rebuild index write (see
        // sim_ivfpq_persisted_append_topk): same gate verdict, one full
        // persisted write less, independently-encoded compare side
        persistedEqualityGate(
          Similarity.ivfPqProbePersisted(s, pathA, cents, books,
            q, emb, 10, nprobe = 6, rerankFactor = 8),
          Similarity.ivfPqTopK(emb, q, 10, (cents, books),
            nprobe = 6, rerankFactor = 8))
      },
      Some(topkGateOracle("persisted_equals_memory"))),

    Q("sim_pq_topk", // DRIVER-VISIBLE recall gate: product-quantization ANN
      // (ADC scan + exact rerank; m=16, ksub=32, rerank 8k) vs brute force —
      // measured recall@10 0.97 at sf0.01 / 0.895 at sf0.1 (rerank 4k fell
      // to 0.775 at 2000 vectors — the gate surfaced it; 8k holds the 0.8
      // floor at both fixture scales). PQ scores EVERY vector (no blocking
      // misses): corpus memory traffic is m ints/vector, 16x under the
      // float32 embedding.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        topkRecallGate(
          Similarity.bruteForceTopK(emb, q, 10),
          Similarity.pqTopK(emb, q, 10, m = 16, ksub = 32, iters = 3, rerankFactor = 8),
          k = 10, floor = 0.8)
      },
      Some(topkGateOracle("recall_ok"))),

    Q("sim_opq_topk", // DRIVER-VISIBLE recall gate: OPQ-style decorrelated PQ
      // (FAISS OPQMatrix preprocessing, PCA-rotation form of Ge et al. 2013)
      // — full-rank PCA rotation in front of the sim_pq_topk ADC pipeline,
      // same m=16/ksub=32/rerank-8k params. The rotation is orthogonal, so
      // the gate proves the rotate->encode->ADC->rerank COMPOSITION loses
      // nothing: measured recall@10 0.945 (sf0.001) / 0.92 (sf0.01) vs brute
      // force, gated at the family's 0.8 floor; on anisotropic real
      // embeddings the decorrelation is what keeps per-block PQ distortion
      // balanced.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        topkRecallGate(
          Similarity.bruteForceTopK(emb, q, 10),
          Similarity.opqTopK(emb, q, 10, dim = 64, m = 16, ksub = 32,
            iters = 3, rerankFactor = 8),
          k = 10, floor = 0.8)
      },
      Some(topkGateOracle("recall_ok")), headline = true),

    Q("sim_ivfpq_topk", // DRIVER-VISIBLE recall gate: IVFADC (FAISS IVFx,PQy
      // architecture — coarse cells + PQ-coded residuals, nprobe-cell ADC
      // scan + exact rerank) vs brute force; measured recall@10 0.895 at
      // sf0.01 / 0.85 at sf0.1 with nprobe=6, rerank 8k (the old nprobe=5,
      // rerank 4k fell to 0.705 at 2000 vectors — the gate surfaced it),
      // gated at the spec's 0.8 floor
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        topkRecallGate(
          Similarity.bruteForceTopK(emb, q, 10),
          Similarity.ivfPqTopK(emb, q, 10,
            Similarity.trainIvfPq(emb, nlist = 8, m = 16, ksub = 32, iters = 3),
            nprobe = 6, rerankFactor = 8),
          k = 10, floor = 0.8)
      },
      Some(topkGateOracle("recall_ok"))),

    Q("sim_ivfpq_persisted_topk", // the IVFADC index LIFECYCLE as a
      // DRIVER-VISIBLE bit-equality gate: residual-PQ codes cell-partitioned
      // on disk, probed via partition pruning + ADC + exact rerank — the
      // billion-scale serving layout (scan fraction AND bytes-per-row both
      // shrink) — compared multiset-exactly against the in-memory ivfPqTopK
      // under the same deterministic training (SimilaritySpec pin, promoted).
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        val (cents, books) = Similarity.trainIvfPq(emb, nlist = 8, m = 16,
          ksub = 32, iters = 3)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_index_${math.abs(d.hashCode)}"
        Similarity.writeIvfPqIndex(emb, cents, books, path)
        persistedEqualityGate(
          Similarity.ivfPqProbePersisted(s, path, cents, books, q, emb, 10,
            nprobe = 6, rerankFactor = 8),
          // the twin probes under the SAME deterministic models the entry
          // just trained — a refit with equal params reproduces them
          // bit-for-bit (trainIvfPq contract), so retraining was pure waste
          Similarity.ivfPqTopK(emb, q, 10, (cents, books),
            nprobe = 6, rerankFactor = 8))
      },
      Some(topkGateOracle("persisted_equals_memory"))),

    Q("sim_ivfpq_persisted_append_topk", // the IVFADC lifecycle's APPEND
      // half: new vectors assign + residual-PQ-encode under the FROZEN
      // (centroids, codebooks) and append cell files. Gate: probing the
      // appended index is MULTISET-EXACT against probing a full REBUILD
      // under the same models — append ≡ rebuild is the lifecycle
      // invariant (a dropped row, stale cell, or encode drift fails the
      // driver's hash compare).
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
        val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
        val q = emb.filter(col("vec_id") < 20)
        val (cents, books) = Similarity.trainIvfPq(base, nlist = 8, m = 16,
          ksub = 32, iters = 3)
        val tmp = System.getProperty("java.io.tmpdir")
        val pathA = s"$tmp/graft_ivfpq_append_${math.abs(d.hashCode)}"
        Similarity.writeIvfPqIndex(base, cents, books, pathA)
        Similarity.appendIvfPqIndex(batch, cents, books, pathA)
        // comparison target = the IN-MEMORY IVFADC twin under the same frozen
        // models (the sim_ivf_persisted_* quartet's shape):
        // probe(write(X)) ≡ ivfPqTopK(X) is spec-asserted, so the
        // full-rebuild index write that existed only to be probed once is
        // dropped — same gate verdict, one full persisted write less, and the
        // twin encodes through an independent projection (a shared
        // ivfPqIndexRows bug can no longer cancel out of the compare)
        persistedEqualityGate(
          Similarity.ivfPqProbePersisted(s, pathA, cents, books,
            q, emb, 10, nprobe = 6, rerankFactor = 8),
          Similarity.ivfPqTopK(emb, q, 10, (cents, books),
            nprobe = 6, rerankFactor = 8))
      },
      Some(topkGateOracle("persisted_equals_memory"))),

    Q("sim_random_projection", // Johnson–Lindenstrauss sign projection 64→16
      // dims: map-only, one native dot per output dim against a literal
      // ±1/√16 sign row; the sign formula is pure integer arithmetic, so the
      // projected vectors hash-match DuckDB exactly (exploded to scalar rows
      // — the driver's comparator can't hash array columns)
      (s, d) => Similarity.randomProject(Tables.embeddings(s, d), dim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("rp")).as(Seq("dim", "rp_val")))
        .withColumn("dim", col("dim").cast("long")),
      Some(rpSignCtes + """
              SELECT vec_id, j AS dim,
                round(list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(emb)), i -> emb[i] * ws[i])),
                  (acc, x) -> acc + x), 6) AS rp_val
              FROM e, sl""")),

    Q("sim_rp_topk", // random-projection ANN (16-dim shortlist scan + exact
      // rerank of the top 100): every stage is deterministic arithmetic on
      // rounded values, so unlike the trained/hashed ANN paths this scale
      // twin hash-matches an oracle END TO END; recall vs full-dim brute
      // force is additionally gated in SimilaritySpec
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.rpTopK(emb, emb.filter(col("vec_id") < 5), 10,
            dim = 64, outDim = 16, rerankFactor = 10)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some(rpSignCtes + """,
              rv AS (SELECT vec_id, j,
                round(list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(emb)), i -> emb[i] * ws[i])),
                  (acc, x) -> acc + x), 6) AS rp_j
                FROM e, sl),
              r AS (SELECT vec_id, list(rp_j ORDER BY j) AS rp FROM rv GROUP BY vec_id),
              q AS (SELECT vec_id AS query_id, rp AS qr FROM r WHERE vec_id < 5),
              s AS (SELECT query_id, vec_id, round(list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(rp)), i -> qr[i] * rp[i])),
                  (acc, x) -> acc + x), 6) AS rp_dot
                FROM q, r WHERE query_id != vec_id),
              short AS (SELECT query_id, vec_id FROM
                (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rp_dot DESC, vec_id) AS srk FROM s) WHERE srk <= 100)""" + rerankTop10Select), headline = true),

    Q("sim_pca_topk", // PCA-trained ANN (the TRAINED linear compressor next
      // to RP's oblivious one): one distributed covariance pass + driver
      // Jacobi eigensolve (64x64, kilobytes), 16-dim variance-optimal
      // shortlist scan + exact full-dim rerank of the top 100. Training is
      // data-dependent (eigenvectors), so this is recall-GATED like ivfTopK
      // rather than value-oracled like RP: measured recall@10 0.86 (sf0.001)
      // / 0.835 (sf0.01) vs brute force — vs 0.55 for the oblivious RP at
      // the same shortlist depth — gated at the 0.7 floor; counts
      // hash-oracled, boolean TRUE.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        topkRecallGate(
          Similarity.bruteForceTopK(emb, q, 10),
          Similarity.pcaTopK(emb, q, 10, dim = 64, outDim = 16, rerankFactor = 10),
          k = 10, floor = 0.7)
      },
      Some(topkGateOracle("recall_ok")), headline = true),

    Q("pipeline_embedding_whiten", // WHITENING correctness surfaced as
      // arithmetic the driver can hash: fit a whitened PCA (one distributed
      // moments pass -> population covariance -> Jacobi), project the corpus
      // map-only, re-run the SAME moments pass over the projections, and
      // emit per projected dim (mean, variance, max |cov| vs any other dim)
      // rounded to 6 decimals. A correct fit yields EXACTLY (0, 1, 0) per
      // dim — float ulps sit ~6 orders below the rounding — so the constant
      // oracle is a real gate on the whole fit→eigensolve→project chain
      // (the preprocessing step embedding pipelines run before PQ/OPQ).
      (s, d) => Similarity.pcaWhitenDiagnostics(Tables.embeddings(s, d),
        dim = 64, outDim = 16),
      Some("""SELECT CAST(i AS INT) AS dim_idx, 0.0 AS mean_r, 1.0 AS variance_r,
              0.0 AS max_abs_cov_r
              FROM (SELECT unnest(generate_series(0, 15)) AS i) t"""), headline = true),

    Q("sim_mrl_topk", // Matryoshka-prefix ANN: shortlist on the first 16 dims
      // (zero-arithmetic slice — an MRL encoder's prefix is a valid coarse
      // embedding), exact full-dim rerank of the top 100; deterministic
      // arithmetic end to end, so it hash-oracles like the RP path
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.mrlTopK(emb, emb.filter(col("vec_id") < 5), 10,
            prefixDim = 16, rerankFactor = 10)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              p AS (SELECT vec_id, emb[1:16] AS pre FROM e),
              q AS (SELECT vec_id AS query_id, pre AS qp FROM p WHERE vec_id < 5),
              s AS (SELECT query_id, vec_id, round(list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(pre)), i -> qp[i] * pre[i])),
                  (acc, x) -> acc + x), 6) AS pre_dot
                FROM q, p WHERE query_id != vec_id),
              short AS (SELECT query_id, vec_id FROM
                (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY pre_dot DESC, vec_id) AS srk FROM s) WHERE srk <= 100)""" + rerankTop10Select)),

    Q("sim_binary_topk", // binary-quantized ANN: per-dimension sign bits pack
      // into ONE long (32x compression; Charikar 2002 — Hamming between sign
      // words estimates the angle), whole-corpus popcount shortlist, exact
      // rerank of the top 100. Deterministic arithmetic end to end (sign,
      // XOR, popcount), so like the RP/MRL paths this scale twin hash-matches
      // an oracle END TO END — the oracle counts sign mismatches directly;
      // recall vs brute force is additionally gated in SimilaritySpec
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.binaryTopK(emb, emb.filter(col("vec_id") < 5), 10,
            dim = 64, rerankFactor = 10)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 5),
              h AS (SELECT query_id, vec_id,
                len(list_filter(generate_series(1, len(emb)),
                  i -> (qe[i] >= 0) != (emb[i] >= 0))) AS ham
                FROM q, e WHERE query_id != vec_id),
              short AS (SELECT query_id, vec_id FROM
                (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY ham ASC, vec_id) AS srk FROM h) WHERE srk <= 100)""" + rerankTop10Select), headline = true),

    Q("sim_centroid_classify", // nearest-class-centroid (Rocchio) classifier:
      // per-class mean vector via ONE (class, dim) agg, cosine scoring over a
      // broadcast |classes|-row centroid table, bounded per-vec argmax — the
      // linear embedding router + the class-separation sanity gate (fixture
      // self-accuracy 0.41 vs 0.10 chance, gated in ClassifySpec)
      (s, d) => Classify.centroidClassify(Tables.embeddings(s, d)),
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              d AS (SELECT label AS cand, unnest(v) AS x,
                unnest(generate_series(1, len(v))) AS dim FROM e),
              cd AS (SELECT cand, dim, avg(x) AS m FROM d GROUP BY 1, 2),
              cent AS (SELECT cand, array_agg(m ORDER BY dim) AS c FROM cd GROUP BY 1),
              sc AS (SELECT e.vec_id, e.label, cent.cand,
                round(
                  list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(e.v)), i -> e.v[i] * cent.c[i])), (acc, x) -> acc + x)
                  / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(e.v)), i -> e.v[i] * e.v[i])), (acc, x) -> acc + x))
                   * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cent.c)), i -> cent.c[i] * cent.c[i])), (acc, x) -> acc + x))), 6) AS centroid_cos
                FROM e CROSS JOIN cent),
              pred AS (SELECT vec_id, label, cand AS pred_label, centroid_cos,
                row_number() OVER (PARTITION BY vec_id ORDER BY centroid_cos DESC, cand ASC) AS rn
                FROM sc)
              SELECT vec_id, label, pred_label, centroid_cos, pred_label = label AS correct
              FROM pred WHERE rn = 1"""), headline = true),

    Q("sim_hard_negatives", // hard-negative mining for contrastive training
      // (DPR / triplet mining): per anchor the 5 highest-cosine DIFFERENT-
      // label vectors — the close-but-wrong negatives InfoNCE wants, mined as
      // a corpus join. Exact form, deterministic (rounded cosine, vec_id
      // tie-break) → fully hash-oracled; the IVF twin below is the 100 TB
      // path and this entry is its recall oracle. Anchors are the
      // vec_id < 1000 sample (all 500 fixture vectors at sf0.001/0.01; 1/5 of
      // sf0.1) so the sweep pays anchors × corpus, not corpus² — negatives
      // still come from the FULL corpus.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Classify.hardNegatives(emb, k = 5,
          queries = Some(emb.filter(col("vec_id") < 1000)))
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              p AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                round(list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
                  (acc, x) -> acc + x), 6) AS cosine
                FROM e a JOIN e b ON a.vec_id <> b.vec_id AND a.label <> b.label
                WHERE a.vec_id < 1000),
              r AS (SELECT query_id, vec_id, cosine,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rnk
                FROM p)
              SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rank
              FROM r WHERE rnk <= 5""")),

    Q("sim_hard_negatives_ivf", // the scale twin as a DRIVER-VISIBLE recall
      // gate: candidates from the IVF probe's nprobe cells (label filter
      // BEFORE the heap, probes shuffle on cell — batch shape), recall@5 vs
      // the exact form measured 0.85 on the near-orthogonal fixture, gated
      // at 0.75; counts hash-oracled, boolean TRUE. The gate's anchor set is
      // the vec_id < 1000 SAMPLE (the knn agreement-gate precedent): the
      // exact side is the oracle twin and must not be paid corpus-wide twice
      // per sweep — negatives still come from the FULL corpus on both sides.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val anchors = Some(emb.filter(col("vec_id") < 1000))
        topkRecallGate(
          Classify.hardNegatives(emb, k = 5, queries = anchors),
          Classify.hardNegativesIvf(emb, k = 5, nlist = 8, nprobe = 5,
            queries = anchors),
          k = 5, floor = 0.75)
      },
      Some(topkGateOracle("recall_ok", "vec_id < 1000", k = 5)), headline = true),

    Q("sim_knn_classify", // instance-based classification (label propagation):
      // exact 5-NN majority vote, heap-bounded top-k + (n·k)-row vote agg,
      // deterministic tie-break (votes, closest rank, label) → hash-oracled.
      // Fixture self-accuracy is chance BY CONSTRUCTION (vectors are
      // near-orthogonal; class signal lives in the means — see
      // sim_centroid_classify's gate); ClassifySpec proves the semantics on
      // planted clusters
      (s, d) => Classify.knnClassify(Tables.embeddings(s, d), k = 5),
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              p AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id, b.label AS n_label,
                round(list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
                  (acc, x) -> acc + x), 6) AS cosine
                FROM e a JOIN e b ON a.vec_id <> b.vec_id),
              nn AS (SELECT query_id, n_label, cosine, vec_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rnk
                FROM p),
              v AS (SELECT query_id, n_label, count(*) AS votes, min(rnk) AS best_rank
                FROM nn WHERE rnk <= 5 GROUP BY 1, 2),
              w AS (SELECT query_id, n_label AS pred_label, votes,
                row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, best_rank ASC, n_label ASC) AS wr
                FROM v)
              SELECT w.query_id AS vec_id, e.label, w.pred_label, w.votes,
                w.pred_label = e.label AS correct
              FROM w JOIN e ON e.vec_id = w.query_id WHERE wr = 1""")),

    Q("sim_knn_classify_ivf", // the scale twin as a DRIVER-VISIBLE agreement
      // gate: neighbors from the trained IVF probe (nlist=8, nprobe=5 — the
      // sim_ivf_topk params, recall@10 0.905) instead of the all-pairs scan;
      // prediction agreement vs the exact form (measured 0.784) gated at the
      // ClassifySpec 0.6 floor. The agreement SAMPLE is vec_id < 1000 — the
      // full set at sf0.01 (500 vecs), half at sf0.1 — so the gate's exact
      // twin stays fixture-bounded while sim_knn_classify remains the full
      // hash-oracled exact entry. n_vecs is DuckDB-exact.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 1000)
        val exact = Classify.knnClassify(emb, k = 5, queries = Some(q))
          .select(col("vec_id"), col("pred_label").as("__pe"))
        val ivf = Classify.knnClassifyIvf(emb, k = 5, queries = Some(q))
          .select(col("vec_id"), col("pred_label").as("__pi"))
        exact.join(ivf, "vec_id")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("__pe") === col("__pi"), 1L).otherwise(0L)).as("__agree"))
          .select(col("n_vecs"),
            (col("__agree") >= col("n_vecs") * 0.6).as("agreement_ok"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_vecs, TRUE AS agreement_ok
              FROM embeddings WHERE vec_id < 1000""")),

    Q("text_langid",
      (s, d) => {
        val t = col("text")
        Tables.documents(s, d).select(col("doc_id"),
          TextFns.markerHits(t, TextFns.langMarkers(0)._2).cast("long").as("score_en"),
          TextFns.markerHits(t, TextFns.langMarkers(1)._2).cast("long").as("score_de"),
          TextFns.markerHits(t, TextFns.langMarkers(2)._2).cast("long").as("score_es"),
          TextFns.markerHits(t, TextFns.langMarkers(3)._2).cast("long").as("score_fr"),
          TextFns.predictLang(t).as("pred_lang"))
      },
      Some(langScoredCtes + """
              SELECT doc_id, score_en, score_de, score_es, score_fr, pred_lang FROM l""")),

    Q("text_quality",
      (s, d) => {
        val norm = TextFns.normalize(col("text"))
        val toks = TextFns.tokens(col("text"))
        val charCnt = length(regexp_replace(norm, " ", ""))
        val punctCnt = length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))
        val stopHits = TextFns.markerHits(col("text"), TextFns.langMarkers(0)._2)
        Tables.documents(s, d).select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_calc"),
          size(toks).cast("long").as("n_tokens"),
          round(charCnt.cast("double") / size(toks), 6).as("avg_token_len"),
          round(punctCnt.cast("double") / length(col("text")), 6).as("punct_ratio"),
          round(stopHits.cast("double") / size(toks), 6).as("stopword_ratio"))
      },
      Some("""WITH t AS (SELECT doc_id, text,
                lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
              x AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS toks,
                length(replace(norm, ' ', '')) AS char_cnt,
                length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt
                FROM t)
              SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars_calc,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                round(CAST(char_cnt AS DOUBLE) / len(toks), 6) AS avg_token_len,
                round(CAST(punct_cnt AS DOUBLE) / length(text), 6) AS punct_ratio,
                round(CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','in'))) AS DOUBLE)
                  / len(toks), 6) AS stopword_ratio
              FROM x"""), headline = true),

    Q("text_gopher_rules", // Gopher A1.1 composite rule gate: per-rule flags + keep
      (s, d) => Curation.gopherQualityRules(Tables.documents(s, d)),
      Some("""WITH t AS (SELECT doc_id, text,
                lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
              x AS (SELECT doc_id, text,
                string_split(norm, ' ') AS toks,
                length(replace(norm, ' ', '')) AS char_cnt FROM t),
              m AS (SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_words,
                round(CAST(char_cnt AS DOUBLE) / len(toks), 6) AS mean_word_len,
                round(CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / len(toks), 6) AS symbol_ratio,
                round(CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(toks), 6) AS alpha_word_frac,
                CAST(len(list_intersect(toks, ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS distinct_stopwords
                FROM x)
              SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac, distinct_stopwords,
                (n_words BETWEEN 30 AND 100000) AS rule_word_count,
                (mean_word_len BETWEEN 3.0 AND 10.0) AS rule_word_len,
                (symbol_ratio <= 0.1) AS rule_symbol,
                (alpha_word_frac >= 0.8) AS rule_alpha,
                (distinct_stopwords >= 2) AS rule_stopwords,
                ((n_words BETWEEN 30 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
                  AND (symbol_ratio <= 0.1) AND (alpha_word_frac >= 0.8)
                  AND (distinct_stopwords >= 2)) AS keep
              FROM m""")),

    Q("text_token_count",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("ws_tokens"),
        TextFns.bpeTokenCount(col("text")).cast("long").as("bpe_tokens")),
      Some("""SELECT doc_id,
              CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS ws_tokens,
              CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
              FROM documents""")),

    Q("text_redact", // PII-style scrub: emails, long digit runs, URLs
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"),
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "https?://[^\\s]+", "<URL>"),
          "[0-9]{6,}", "<NUM>").as("redacted")),
      Some("""SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  'https?://[^\s]+', '<URL>', 'g'),
                '[0-9]{6,}', '<NUM>', 'g') AS redacted
              FROM documents""")),

    Q("text_repetition", // repetition quality signal: top-token share per doc
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        toks.groupBy("doc_id").agg(
          max(col("tf")).as("max_tf"),
          sum(col("tf")).as("n_toks"),
          round(max(col("tf")).cast("double") / sum(col("tf")), 6).as("top_token_share"))
      },
      Some("""WITH tf AS (
                SELECT doc_id, t.tok, count(*) AS tf FROM (
                  SELECT doc_id,
                    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
                  FROM documents) t
                GROUP BY doc_id, t.tok)
              SELECT doc_id, max(tf) AS max_tf, CAST(sum(tf) AS BIGINT) AS n_toks,
                round(CAST(max(tf) AS DOUBLE) / sum(tf), 6) AS top_token_share
              FROM tf GROUP BY doc_id""")),

    Q("text_zipf_fit", // vocabulary-health scalar: least-squares slope + r2 of
      // log2(freq) vs log2(rank) over the type table (natural text ~ -1;
      // crawler loops flatten it). One corpus token-count agg; the fit runs
      // on the vocab-bounded frame
      (s, d) => Curation.zipfFit(Tables.documents(s, d)),
      Some("""WITH toks AS (SELECT unnest(string_split(
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
                FROM documents),
              c AS (SELECT token, count(*) AS c FROM toks
                WHERE len(token) > 0 GROUP BY 1),
              xy AS (SELECT c,
                log2(row_number() OVER (ORDER BY c DESC, token ASC) * 1.0) AS x,
                log2(c * 1.0) AS y FROM c),
              m AS (SELECT count(*) * 1.0 AS n, count(*) AS n_types,
                CAST(sum(c) AS BIGINT) AS n_tokens,
                sum(x * y) AS sxy0, sum(x) AS sx, sum(y) AS sy,
                sum(x * x) AS sxx0, sum(y * y) AS syy0 FROM xy)
              SELECT n_types, n_tokens,
                round(CASE WHEN n * sxx0 - sx * sx > 0
                  THEN (n * sxy0 - sx * sy) / (n * sxx0 - sx * sx) ELSE 0 END, 6)
                  AS zipf_slope,
                round(CASE WHEN n * sxx0 - sx * sx > 0 AND n * syy0 - sy * sy > 0
                  THEN ((n * sxy0 - sx * sy) * (n * sxy0 - sx * sy)) /
                       ((n * sxx0 - sx * sx) * (n * syy0 - sy * sy)) ELSE 1.0 END, 6)
                  AS zipf_r2
              FROM m""")),

    Q("text_ngram_freq", // corpus-wide top-50 trigram frequency
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(TextFns.tokens(col("text")).as("toks"))
          .select(explode(TextFns.shinglesFromTokens(col("toks"), 3)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("freq"))
        Ops.topN(grams, 50, Seq(col("freq").desc, col("gram").asc))
      },
      Some(tokensCte + """,
              g AS (SELECT unnest(CASE WHEN len(toks) >= 3 THEN
                  list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [] END) AS gram FROM t)
              SELECT gram, count(*) AS freq FROM g
              GROUP BY gram ORDER BY freq DESC, gram LIMIT 50""")),

    Q("text_pmi_top", // adjacent-pair PMI collocations (Church & Hanks 1990):
      // top-50 pairs by ln(c_ab*N/(c_a*c_b)) with a min-count floor (bare PMI
      // is maximized by hapax pairs); N is a scalar over the checkpointed
      // vocab-bounded unigram frame riding a one-row broadcast — never a
      // second corpus scan, never an unpartitioned window
      (s, d) => Curation.cooccurrencePmi(Tables.documents(s, d),
        minCount = 5, topN = 50),
      Some(bigramCtes + """,
              u0 AS (SELECT unnest(toks) AS w FROM t),
              u AS (SELECT w, count(*) AS c_w FROM u0 WHERE len(w) > 0 GROUP BY 1),
              un AS (SELECT w, c_w, sum(c_w) OVER () AS n_total FROM u),
              bc AS (SELECT bg, count(*) AS c_ab FROM b GROUP BY 1 HAVING count(*) >= 5),
              bb AS (SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b,
                c_ab FROM bc),
              j AS (SELECT bb.a, bb.b, bb.c_ab, ua.c_w AS c_a, ub.c_w AS c_b, ua.n_total
                FROM bb JOIN un ua ON bb.a = ua.w JOIN u ub ON bb.b = ub.w)
              SELECT a, b, c_ab, c_a, c_b,
                round(ln(CAST(c_ab AS DOUBLE) * n_total / (c_a * c_b)), 6) AS pmi
              FROM j ORDER BY pmi DESC, a, b LIMIT 50""")),

    Q("text_dup_ngram_fraction", // passage-level repetition signal: per doc,
      // fraction of its distinct trigrams shared with >= 1 other document
      // (boilerplate that document-level dedup misses)
      (s, d) => Dedup.dupNgramStats(Tables.documents(s, d), n = 3),
      Some(trigramCtes(normCte) + """,
              dg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
              f AS (SELECT gram, count(*) AS ndocs FROM dg GROUP BY gram),
              j AS (SELECT doc_id, ndocs FROM dg JOIN f USING (gram))
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(coalesce(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_shared,
                CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_gram_fraction
              FROM j GROUP BY doc_id""")),

    Q("text_fingerprint",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        TextFns.fingerprint(col("text")).as("fingerprint")),
      Some(fingerprintCtes + """
              SELECT doc_id, fp AS fingerprint FROM f""")),

    Q("multimodal_blob_features", // REAL-codec round trip: each doc becomes a
      // genuine 24-bit BMP (dims a pure function of doc_id), and the features
      // come from parsing those actual bytes — magic, LE dimension fields —
      // in the per-partition-init mapPartitions decoder. The oracle recomputes
      // dims and the spec'd file length (54 + ceil(3w/4)·4·h) arithmetically,
      // so a hash match proves the encode→parse round trip end to end.
      (s, d) => Multimodal.extractFeatures(s,
          Multimodal.syntheticImagesFromDocuments(s, Tables.documents(s, d)).toDF())
        .toDF()
        .select(col("media_id"), col("format"),
          col("byte_len").cast("long").as("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height")),
      Some("""SELECT doc_id AS media_id, 'bmp' AS format,
              CAST(54 + ((3 * ((doc_id % 16) + 1) + 3) // 4) * 4 * ((doc_id % 12) + 1) AS BIGINT) AS byte_len,
              CAST((doc_id % 16) + 1 AS BIGINT) AS width,
              CAST((doc_id % 12) + 1 AS BIGINT) AS height
              FROM documents"""), headline = true),

    Q("multimodal_resize", // REAL pixel-level nearest-neighbor resize: the
      // synthetic BMPs (dims doc_id%16+1 x doc_id%12+1) resize to 8x8 through
      // actual padded-BGR-row sampling + re-encode, then the features come
      // from re-PARSING the resized bytes — so a hash match proves the
      // decode→resize→encode→decode chain; byte_len is the 24-bit BMP
      // constant 54 + 24·8 = 246. Pixel-level sampling correctness (which no
      // SQL oracle can replay) is pinned in MultimodalSpec on hand-built
      // images.
      (s, d) => Multimodal.extractFeatures(s,
          Multimodal.resizeImages(s,
            Multimodal.syntheticImagesFromDocuments(s, Tables.documents(s, d)).toDF(),
            dstW = 8, dstH = 8).toDF())
        .toDF()
        .select(col("media_id"), col("format"),
          col("byte_len").cast("long").as("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height")),
      Some("""SELECT doc_id AS media_id, 'bmp' AS format, CAST(246 AS BIGINT) AS byte_len,
              CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height
              FROM documents""")),

    Q("multimodal_frame_sample",
      (s, d) => Multimodal.sampleOffsets(
        Multimodal.mediaFromDocuments(Tables.documents(s, d)), Seq(1, 101, 201, 301)),
      // byte-based slice on both sides: Spark substrings the BINARY payload, the
      // oracle slices the blob's hex string (2 hex chars = 1 byte) — so multi-byte
      // UTF-8 documents sample the same byte, not a re-encoded character
      Some("""SELECT doc_id AS media_id, pos, substr(hex(encode(text)), pos * 2 - 1, 2) AS sample_hex
              FROM documents, (SELECT unnest([1, 101, 201, 301]) AS pos) t
              WHERE pos <= octet_length(encode(text))""")),

    Q("multimodal_gif_frames", // format-AWARE frame extraction (replacing
      // the byte-offset stand-in for this axis): each doc
      // becomes a REAL multi-frame GIF89a — valid clear-code LZW image data,
      // global color table, graphic-control extensions — with frame geometry
      // a pure function of doc_id, and the frames come from walking the
      // actual block structure (image descriptors, extension sub-blocks,
      // color-table skips). A hash match proves encode→walk end to end;
      // hand-built and truncated files are pinned in MultimodalSpec.
      (s, d) => Multimodal.gifFrames(s,
          Multimodal.syntheticGifsFromDocuments(s, Tables.documents(s, d)).toDF())
        .toDF(),
      Some("""SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
              CAST(2 * i AS INT) AS frame_left, CAST(i AS INT) AS frame_top,
              CAST((doc_id % 16) + 1 + i AS INT) AS frame_w,
              CAST((doc_id % 12) + 1 + i AS INT) AS frame_h
              FROM (SELECT doc_id, unnest(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS i
                    FROM documents) t"""), headline = true),

    Q("multimodal_gif_pixels", // the GIF walk's PIXEL half (removing the
      // last structure-not-pixels stand-in): each doc
      // becomes a real GIF89a whose frame pixels are the oracle-arithmetic
      // function (doc_id·31 + i·257 + j·7) mod 127, and the features come
      // from genuinely LZW-DECODING the image data sub-blocks
      // (Multimodal.gifLzwDecode — full variable-width algorithm; the
      // dictionary-growth/KwKwK/deferred-clear paths are MultimodalSpec-
      // round-tripped). pixel_sum + position-weighted pixel_poly + endpoint
      // pins are recomputed per pixel by DuckDB, so a hash match proves
      // encode→walk→LZW-decode reproduces every pixel value AND position.
      (s, d) => Multimodal.gifFramePixels(s,
          Multimodal.syntheticGifsExactFromDocuments(s, Tables.documents(s, d)).toDF())
        .toDF(),
      Some("""WITH f AS (SELECT doc_id,
                unnest(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS i
                FROM documents),
              g AS (SELECT doc_id, i,
                CAST((doc_id % 16) + 1 + i AS INT) AS w,
                CAST((doc_id % 12) + 1 + i AS INT) AS h
                FROM f)
              SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
                w AS frame_w, h AS frame_h,
                CAST(w * h AS BIGINT) AS n_pixels,
                CAST(list_sum(list_transform(generate_series(0, w * h - 1),
                  j -> (doc_id * 31 + i * 257 + j * 7) % 127)) AS BIGINT) AS pixel_sum,
                CAST(list_sum(list_transform(generate_series(0, w * h - 1),
                  j -> (j + 1) * ((doc_id * 31 + i * 257 + j * 7) % 127))) AS BIGINT) AS pixel_poly,
                CAST((doc_id * 31 + i * 257) % 127 AS INT) AS pixel_first,
                CAST((doc_id * 31 + i * 257 + (w * h - 1) * 7) % 127 AS INT) AS pixel_last
              FROM g"""), headline = true),

    Q("multimodal_wav_windows", // format-aware AUDIO windowing: each doc
      // becomes a real PCM16 mono RIFF/WAVE file (sample i = (doc_id·31 +
      // i·7) mod 4096 − 2048 — oracle-exact integers), the windows come from
      // the actual chunk walk (fmt → data) + window/hop framing with the
      // partial last window kept, and peak_abs / sum_sq (exact-integer
      // energy) / zero_crossings (the VAD pre-features) all re-read the
      // encoded LE sample bytes — a hash match proves
      // encode→chunk-walk→window→decode, feature by feature.
      (s, d) => Multimodal.wavWindows(s,
          Multimodal.syntheticWavsFromDocuments(s, Tables.documents(s, d)).toDF(),
          windowSamples = 32, hopSamples = 16).toDF(),
      Some(wavWindowCtes + """
              SELECT doc_id AS media_id, CAST(k AS INT) AS window_idx,
                CAST(st AS BIGINT) AS start_sample,
                CAST(len AS BIGINT) AS n_samples,
                CAST(list_max(list_transform(generate_series(st, st + len - 1),
                  i -> abs(((doc_id * 31 + i * 7) % 4096) - 2048))) AS BIGINT) AS peak_abs,
                CAST(list_sum(list_transform(generate_series(st, st + len - 1),
                  i -> CAST(((doc_id * 31 + i * 7) % 4096) - 2048 AS BIGINT)
                       * (((doc_id * 31 + i * 7) % 4096) - 2048))) AS BIGINT) AS sum_sq,
                CAST(len(list_filter(generate_series(st + 1, st + len - 1),
                  i -> (((doc_id * 31 + i * 7) % 4096) - 2048 < 0)
                       <> (((doc_id * 31 + (i - 1) * 7) % 4096) - 2048 < 0)))
                  AS BIGINT) AS zero_crossings
              FROM wl"""), headline = true),

    Q("multimodal_resize_png", // the resize path's PNG half:
      // synthetic PNGs (real deflated scanlines, even ids RGB / odd ids
      // RGBA) resize to 8x8 through actual inflate → unfilter → sample →
      // re-deflate, then features come from re-PARSING the re-encoded bytes.
      // byte_len is deliberately NOT emitted — deflate output length is
      // codec-internal, not oracle arithmetic; pixel-level correctness is
      // the _pixels gate below plus MultimodalSpec's hand-computed pins.
      (s, d) => Multimodal.extractFeatures(s,
          Multimodal.resizeImages(s,
            Multimodal.syntheticPngsFromDocuments(s, Tables.documents(s, d)).toDF(),
            dstW = 8, dstH = 8).toDF())
        .toDF()
        .select(col("media_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height")),
      Some("""SELECT doc_id AS media_id, 'png' AS format,
              CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height
              FROM documents""")),

    Q("multimodal_resize_png_pixels", // DRIVER-VISIBLE pixel-equality gate:
      // decode(resize(encode(px))) must equal the nearest-neighbor sample of
      // px itself for every row — the full encode→decode→resize→re-encode→
      // re-decode chain checked sample-exactly (what no SQL oracle can
      // replay, surfaced as a boolean the oracle CAN check). Kept separate
      // from multimodal_resize_png so a pixel regression and a header
      // regression fail distinguishably.
      (s, d) => {
        import s.implicits._
        Multimodal.syntheticPngsFromDocuments(s, Tables.documents(s, d))
          .mapPartitions { rows =>
            rows.map { r =>
              val ok = (for {
                (w, h, bpp, px) <- Multimodal.decodePngPixels(r.payload)
                resized <- Multimodal.resizePng(r.payload, 8, 8)
                (rw, rh, rbpp, rpx) <- Multimodal.decodePngPixels(resized)
              } yield rw == 8 && rh == 8 && rbpp == bpp &&
                (0 until 8 * 8 * bpp).forall { j =>
                  val c = j % bpp; val xi = (j / bpp) % 8; val yi = j / (8 * bpp)
                  rpx(j) == px(((yi * h / 8) * w + (xi * w / 8)) * bpp + c)
                }).getOrElse(false)
              (r.media_id, ok)
            }
          }.toDF("media_id", "pixels_exact")
      },
      Some(pixelsExactOracle), headline = true),

    Q("multimodal_jpeg_pixels", // BASELINE JPEG (ITU-T T.81), the dominant
      // web-scrape image format: each doc becomes a real SOF0 file — Annex K
      // Huffman tables in DHT, DQT, byte-stuffed entropy data, every 5th doc
      // with DRI + RST0-7 resync markers — whose pixels are the flat-per-
      // block function (doc_id·31 + (y/8)·37 + (x/8)·11) mod 251. With the
      // all-ones quant table a flat block is LOSSLESS (DC = the exact
      // integer 8·(v−128), every AC rounds to 0), so the full marker-walk →
      // Huffman → dequant → IDCT decode reproduces every pixel bit-exactly
      // and DuckDB recomputes the per-pixel checksums arithmetically. The
      // general (non-flat) path is MultimodalSpec-pinned.
      (s, d) => Multimodal.jpegPixels(s,
          Multimodal.syntheticJpegsFromDocuments(s, Tables.documents(s, d)).toDF())
        .toDF(),
      Some("""WITH d AS (SELECT doc_id, (doc_id % 23) + 4 AS w, (doc_id % 17) + 4 AS h
                FROM documents)
              SELECT doc_id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                CAST(1 AS INT) AS channels,
                CAST(w * h AS BIGINT) AS n_samples,
                CAST(list_sum(list_transform(generate_series(0, w * h - 1),
                  j -> (doc_id * 31 + ((j // w) // 8) * 37 + ((j % w) // 8) * 11) % 251))
                  AS BIGINT) AS pixel_sum,
                CAST(list_sum(list_transform(generate_series(0, w * h - 1),
                  j -> (j + 1) * ((doc_id * 31 + ((j // w) // 8) * 37 + ((j % w) // 8) * 11) % 251)))
                  AS BIGINT) AS pixel_poly,
                CAST((doc_id * 31) % 251 AS INT) AS pixel_first,
                CAST((doc_id * 31 + ((h - 1) // 8) * 37 + ((w - 1) // 8) * 11) % 251 AS INT) AS pixel_last
              FROM d"""), headline = true),

    Q("multimodal_jpeg_color_pixels", // the COLOR half of the JPEG gate:
      // 4:4:4 YCbCr files whose three planes are each flat-per-block (so the
      // planes decode bit-exactly — the grayscale losslessness argument per
      // plane), leaving the JFIF YCbCr->RGB matrix as the only arithmetic —
      // which the oracle replays term by term in DOUBLE (e0 literals keep
      // DuckDB out of DECIMAL arithmetic), round + clamp per channel. The
      // checksums run over the interleaved RGB sample stream (n_samples =
      // 3wh, channels = 3), so a hash match proves the interleaved MCU
      // decode AND the color conversion, value and position.
      (s, d) => Multimodal.jpegPixels(s,
          Multimodal.syntheticColorJpegsFromDocuments(s, Tables.documents(s, d)).toDF())
        .toDF(),
      Some("""WITH d AS (SELECT doc_id, (doc_id % 13) + 4 AS w, (doc_id % 9) + 4 AS h
                FROM documents),
              px AS (SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS j FROM d),
              c AS (SELECT doc_id, w, h, j,
                (doc_id * 31 + ((j // w) // 8) * 37 + ((j % w) // 8) * 11) % 251 AS yv,
                ((doc_id * 17 + ((j // w) // 8) * 23 + ((j % w) // 8) * 7) % 251) - 128 AS cb,
                ((doc_id * 29 + ((j // w) // 8) * 19 + ((j % w) // 8) * 13) % 251) - 128 AS cr
                FROM px),
              rgb AS (SELECT doc_id, w, h, j,
                LEAST(255, GREATEST(0, CAST(round(yv + 1.402e0 * cr) AS BIGINT))) AS r,
                LEAST(255, GREATEST(0, CAST(round(yv - 0.344136e0 * cb - 0.714136e0 * cr) AS BIGINT))) AS g,
                LEAST(255, GREATEST(0, CAST(round(yv + 1.772e0 * cb) AS BIGINT))) AS b
                FROM c)
              SELECT doc_id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                CAST(3 AS INT) AS channels,
                CAST(3 * w * h AS BIGINT) AS n_samples,
                CAST(sum(r + g + b) AS BIGINT) AS pixel_sum,
                CAST(sum((3 * j + 1) * r + (3 * j + 2) * g + (3 * j + 3) * b) AS BIGINT) AS pixel_poly,
                CAST(min(CASE WHEN j = 0 THEN r END) AS INT) AS pixel_first,
                CAST(min(CASE WHEN j = w * h - 1 THEN b END) AS INT) AS pixel_last
              FROM rgb GROUP BY doc_id, w, h"""), headline = true),

    Q("multimodal_resize_jpeg", // the resize path's JPEG half: synthetic
      // baseline JPEGs resize to 8x8 through actual decode → nearest-neighbor
      // sample → re-ENCODE (full FDCT + quantize + Huffman — the general
      // encoder path, not the flat shortcut), then features come from
      // re-parsing the re-encoded bytes. byte_len is codec-internal (entropy
      // coded), deliberately not emitted — the decodePngPixels precedent;
      // sample-level chain exactness is the _pixels gate below.
      (s, d) => Multimodal.extractFeatures(s,
          Multimodal.resizeImages(s,
            Multimodal.syntheticJpegsFromDocuments(s, Tables.documents(s, d)).toDF(),
            dstW = 8, dstH = 8).toDF())
        .toDF()
        .select(col("media_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height")),
      Some("""SELECT doc_id AS media_id, 'jpeg' AS format,
              CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height
              FROM documents""")),

    Q("multimodal_resize_jpeg_pixels", // DRIVER-VISIBLE sample-equality gate
      // for the JPEG chain: on the FLAT single-block fixture every stage of
      // decode → resize → re-encode → re-decode is exact (nearest-neighbor
      // of a flat image is flat; a flat block is lossless under all-ones
      // quant), so decode(resize(encode)) must equal the nearest-neighbor
      // sample of the original decode — the multimodal_resize_png_pixels
      // precedent, surfaced as a boolean the oracle CAN check.
      (s, d) => {
        import s.implicits._
        Multimodal.syntheticFlatJpegsFromDocuments(s, Tables.documents(s, d))
          .mapPartitions { rows =>
            rows.map { r =>
              val ok = (for {
                (w, h, c, px) <- Multimodal.decodeJpegPixels(r.payload)
                resized <- Multimodal.resizeJpeg(r.payload, 8, 8)
                (rw, rh, rc, rpx) <- Multimodal.decodeJpegPixels(resized)
              } yield rw == 8 && rh == 8 && rc == c &&
                (0 until 8 * 8 * c).forall { j =>
                  val ch = j % c; val xi = (j / c) % 8; val yi = j / (8 * c)
                  rpx(j) == px(((yi * h / 8) * w + (xi * w / 8)) * c + ch)
                }).getOrElse(false)
              (r.media_id, ok)
            }
          }.toDF("media_id", "pixels_exact")
      },
      Some(pixelsExactOracle)),

    Q("multimodal_avi_frames", // format-aware VIDEO: each doc becomes a real
      // RIFF/AVI MJPEG container (LIST hdrl with avih/strh/strf, LIST movi
      // with word-aligned 00dc chunks, idx1 keyframe index) holding
      // doc_id%3+1 baseline-JPEG frames whose pixels are oracle arithmetic —
      // the frames come from genuinely walking the RIFF lists AND
      // baseline-decoding each frame payload, so a hash match proves
      // container walk + codec decode end to end (the gifFramePixels
      // precedent, lifted to the video container a crawl actually yields).
      (s, d) => Multimodal.aviFramePixels(s,
          Multimodal.syntheticAvisFromDocuments(s, Tables.documents(s, d)).toDF())
        .toDF(),
      Some(aviFramesCte + """
              SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
                CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                CAST(w * h AS BIGINT) AS n_pixels,
                """ + aviPixelCols + """
              FROM f"""), headline = true),

    Q("multimodal_scene_cuts", // scene-cut / keyframe detection over MJPEG
      // AVI — the VLM-training sampling op after frame extraction:
      // per decoded frame, the exact integer Σ|sample −
      // previous frame's sample| (frame 0 deltas against black — its own
      // sample sum), is_cut at mean-change > 30/sample, and the per-video
      // keyframe rank (delta desc, frame asc). All frames of one video sit
      // in one payload, so deltas AND the rank stay inside the same
      // zero-exchange flatMap aviFramePixels uses; the oracle recomputes
      // every delta from the fixture's per-frame pixel arithmetic, so a
      // hash match proves container walk + codec decode + delta + ranking.
      (s, d) => Multimodal.sceneCuts(s,
          Multimodal.syntheticAvisFromDocuments(s, Tables.documents(s, d)).toDF())
        .toDF(),
      Some(aviDeltaCtes + """
              SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
                CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                CAST(w * h AS BIGINT) AS n_samples, delta_sum,
                delta_sum > 30 * w * h AS is_cut,
                CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY delta_sum DESC, i) AS INT) AS key_rank
              FROM d"""), headline = true),

    Q("multimodal_wav_spectrum", // windowed SPECTRAL features:
      // per wavWindows-shaped window, the DFT power at fixed bins
      // {1,2,4,8} of W=32 plus the spectral centroid — real/imag are exact
      // integer inner products against fixed-point twiddle tables
      // (round(cos·2^12), round(sin·2^12)) whose INTEGERS are embedded into
      // this very SQL from the same goertzelTables() call the operator uses,
      // so the two sides agree by construction (never by libm rounding
      // luck); centroid is the rounding-free rational (Σ bin·power,
      // Σ power) — the sum_sq discipline. The Goertzel recurrence computes
      // the same bin power in O(1) state; the spec asserts the fixed-point
      // form tracks a double Goertzel.
      (s, d) => Multimodal.wavSpectrum(s,
          Multimodal.syntheticWavsFromDocuments(s, Tables.documents(s, d)).toDF(),
          windowSamples = 32, hopSamples = 16, bins = wavSpecBins,
          scaleBits = 12).toDF(),
      Some(wavWindowCtes + s""",
              bins(bin, ct, sn) AS (VALUES $wavSpecValuesSql),
              r AS (SELECT doc_id, k, st, len, bin,
                CAST(list_sum(list_transform(generate_series(0, len - 1),
                  m -> (((doc_id * 31 + (st + m) * 7) % 4096) - 2048) * ct[m + 1]))
                  AS BIGINT) AS real_fp,
                CAST(list_sum(list_transform(generate_series(0, len - 1),
                  m -> (((doc_id * 31 + (st + m) * 7) % 4096) - 2048) * sn[m + 1]))
                  AS BIGINT) AS imag_fp
                FROM wl CROSS JOIN bins),
              p AS (SELECT *, real_fp * real_fp + imag_fp * imag_fp AS pw FROM r),
              c AS (SELECT doc_id, k, CAST(sum(bin * pw) AS BIGINT) AS centroid_num,
                CAST(sum(pw) AS BIGINT) AS centroid_den FROM p GROUP BY 1, 2)
              SELECT p.doc_id AS media_id, CAST(p.k AS INT) AS window_idx,
                CAST(p.st AS BIGINT) AS start_sample,
                CAST(p.len AS BIGINT) AS n_samples,
                CAST(p.bin AS INT) AS bin, p.real_fp, p.imag_fp,
                CAST(p.pw AS BIGINT) AS power, c.centroid_num, c.centroid_den
              FROM p JOIN c ON p.doc_id = c.doc_id AND p.k = c.k"""), headline = true),

    Q("multimodal_keyframes", // keyframe EXTRACTION (the sampling step after
      // scene-cut detection): per video keep the top-2 frames by
      // scene-change delta and emit each as a STANDALONE baseline JPEG —
      // the checksums come from re-DECODING that emitted payload (flat
      // blocks are lossless under the all-ones quant table, so re-encode
      // round-trips bit-exactly), and the oracle recomputes the selection
      // AND the checksums from the fixture arithmetic. A hash match proves
      // pick + re-encode + re-decode; the jpeg payload itself is dropped
      // from the driver row (binary is not oracle-comparable — its
      // correctness is exactly what the re-decoded checksums witness).
      (s, d) => Multimodal.keyframes(s,
          Multimodal.syntheticAvisFromDocuments(s, Tables.documents(s, d)).toDF(),
          k = 2).toDF().drop("jpeg"),
      Some(aviDeltaCtes + """,
              r AS (SELECT doc_id, w, h, i,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY delta_sum DESC, i) AS rk FROM d)
              SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
                CAST(rk AS INT) AS key_rank,
                CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                CAST(w * h AS BIGINT) AS n_samples,
                """ + aviPixelCols + """
              FROM r WHERE rk <= 2"""), headline = true),

    Q("multimodal_wav_resample", // integer-factor audio RESAMPLING (8 kHz ->
      // 4 kHz, the resample step every ASR pipeline runs): channel-0
      // samples convolve with the fixed-point Hamming-windowed-sinc
      // anti-alias FIR at every 2nd position — naive take-every-Nth would
      // alias; the taps are EMBEDDED into this SQL from the same
      // firLowpassTaps call the operator uses (the goertzelTables
      // discipline), so both sides convolve identical integers and the
      // per-file output checksums are exact.
      (s, d) => Multimodal.wavResample(s,
          Multimodal.syntheticWavsFromDocuments(s, Tables.documents(s, d)).toDF(),
          factor = 2, halfTaps = 7, scaleBits = 12).toDF(),
      Some(s"""WITH d AS (SELECT doc_id, 64 + doc_id % 37 AS n FROM documents),
              o AS (SELECT doc_id, n,
                unnest(generate_series(0, (n + 1) // 2 - 1)) AS j FROM d),
              y AS (SELECT doc_id, n, j,
                CAST(list_sum(list_transform(generate_series(0, 14), t ->
                  CASE WHEN j * 2 + t - 7 >= 0 AND j * 2 + t - 7 < n
                  THEN (((doc_id * 31 + (j * 2 + t - 7) * 7) % 4096) - 2048)
                       * ($firTapsSql)[t + 1]
                  ELSE 0 END)) AS BIGINT) AS yv
                FROM o)
              SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_in,
                CAST(count(*) AS BIGINT) AS n_out,
                CAST(sum(yv) AS BIGINT) AS y_sum,
                CAST(sum((j + 1) * yv) AS BIGINT) AS y_poly,
                CAST(min(CASE WHEN j = 0 THEN yv END) AS BIGINT) AS y_first,
                CAST(min(CASE WHEN j = (n + 1) // 2 - 1 THEN yv END) AS BIGINT) AS y_last
              FROM y GROUP BY doc_id, n"""), headline = true),

    Q("multimodal_dhash", // perceptual image fingerprint (dHash): 9x8
      // nearest-neighbor grid over genuinely DECODED JPEG pixels, bit
      // k = y*8+x set when the right neighbor is brighter, emitted as two
      // 32-bit halves so the oracle arithmetic never touches the Long sign
      // bit. DuckDB recomputes every bit from the fixture's pixel formula
      // at the sampled grid positions, so a hash match proves decode +
      // sampling + comparison + bit packing.
      (s, d) => Multimodal.imageDHash(s,
          Multimodal.syntheticJpegsFromDocuments(s, Tables.documents(s, d)).toDF())
        .toDF(),
      Some(dHashCtes("doc_id") + """
              SELECT doc_id AS media_id, CAST(w AS INT) AS width,
                CAST(h AS INT) AS height, dhash_hi, dhash_lo FROM hashes"""), headline = true),

    Q("dedup_image_clusters", // visual exact-dup CLUSTERS over a clone-
      // planted fixture (payload a pure function of doc_id % 100, so same-
      // class docs are byte-identical images under different ids): group by
      // dHash, emit copy count + canonical id — the group-by form that
      // stays one row per distinct image at 100 TB where a pair list goes
      // quadratic in an image's copy count. The oracle recomputes the hash
      // arithmetically per class and groups identically, so accidental
      // cross-class dHash collisions (flat-block images have sparse bits)
      // are faithfully reproduced on both sides.
      (s, d) => Multimodal.imageDupClusters(s,
          Multimodal.syntheticCloneJpegsFromDocuments(s,
            Tables.documents(s, d), classes = 100).toDF()),
      Some(dHashCtes("doc_id % 100") + dHashClusterSelect), headline = true),

    Q("dedup_image_persisted", // the image-dedup index ON DISK (giving the
      // image modality the winnow-index lifecycle): the
      // frozen corpus's dHashes persist as band rows bucketed on
      // bkey = band*2^16 + slice (Multimodal.writeImageDedupIndex), the
      // new-crawl slice decodes, hashes, and probes the table read BACK
      // from disk through the layout-verified reader — so the hash match
      // proves decode + banding + store/probe round trip + df bound + exact
      // Hamming verify. Clone classes straddle the % 20 split, so every
      // probe image exact-matches its class's base copies (hamming 0) plus
      // any genuine cross-class near-collisions, which the oracle
      // recomputes arithmetically.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_img_idx_${math.abs(d.hashCode)}"
        Multimodal.writeImageDedupIndex(
          Multimodal.imageDHash(s, Multimodal.syntheticCloneJpegsFromDocuments(s,
            docs.filter(col("doc_id") % 20 =!= 0), classes = 100).toDF()).toDF(),
          path, "graft_img_idx", buckets = 4)
        Multimodal.imageNearDupsAgainstIndex(
          Multimodal.imageDHash(s, Multimodal.syntheticCloneJpegsFromDocuments(s,
            docs.filter(col("doc_id") % 20 === 0), classes = 100).toDF()).toDF(),
          graft.sources.Lake.readBucketedVerified(s, path, "graft_img_idx",
            "bkey", 4))
      },
      Some(dHashCtes("doc_id % 100") + dHashIndexProbeSelect)),

    Q("dedup_image_persisted_lifecycle", // the image index's APPEND + DELETE
      // + COMPACT halves in one gate (the dedup_winnow_persisted_delete
      // discipline): build on the base corpus, append DECOYS — the probe
      // batch's own images under shifted media ids (the shift is a multiple
      // of the class count, so each decoy is byte-identical to its probe
      // image and WOULD surface as a hamming-0 pair) — then revoke exactly
      // the decoy ids (affected bkey buckets discovered by a broadcast semi
      // join, only those buckets' files rewritten through the shared staged
      // swap), compact the append fragmentation, and probe. The oracle is
      // dedup_image_persisted's base-only recompute, so the hash match IS
      // the append-visible / delete ≡ rebuild / compaction-preserves-probes
      // proof: one leaked decoy pair or one over-deleted base row breaks it.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val batch = docs.filter(col("doc_id") % 20 === 0)
        val decoys = batch.select((col("doc_id") + 10000000L).as("doc_id"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_img_idx_lc_${math.abs(d.hashCode)}"
        Multimodal.writeImageDedupIndex(
          Multimodal.imageDHash(s, Multimodal.syntheticCloneJpegsFromDocuments(s,
            docs.filter(col("doc_id") % 20 =!= 0), classes = 100).toDF()).toDF(),
          path, "graft_img_idx_lc", buckets = 4)
        Multimodal.appendImageDedupIndex(
          Multimodal.imageDHash(s, Multimodal.syntheticCloneJpegsFromDocuments(s,
            decoys, classes = 100).toDF()).toDF(),
          path, "graft_img_idx_lc", buckets = 4)
        val decoyIds = decoys.select("doc_id").collect().map(_.getLong(0))
        val affected = Multimodal.deleteFromImageDedupIndex(s, path,
          "graft_img_idx_lc", decoyIds, buckets = 4)
        require(affected > 0, "decoy delete touched no bucket — fixture broken")
        val compacted = graft.sources.Lake.compactBucketed(
          s, path, "graft_img_idx_lc", "bkey", buckets = 4)
        require(compacted >= 0, "compaction failed")
        Multimodal.imageNearDupsAgainstIndex(
          Multimodal.imageDHash(s, Multimodal.syntheticCloneJpegsFromDocuments(s,
            batch, classes = 100).toDF()).toDF(),
          graft.sources.Lake.readBucketedVerified(s, path, "graft_img_idx_lc",
            "bkey", 4))
      },
      Some(dHashCtes("doc_id % 100") + dHashIndexProbeSelect)),

    Q("dedup_image_persisted_rebucket", // bucket-count REBUILD for the image
      // index (closing the lifecycle symmetry with the
      // winnow index's rebucket and IVF's resplit): build at 4 buckets on
      // half the base corpus, append the other half, RE-BUCKET to 8 through
      // the one shared Lake.rebucketBucketed staged rewrite (marker-guarded
      // catalog swap, planted only after staging succeeds), and probe
      // through the layout-verified reader at the n′ spec. Shares
      // dedup_image_persisted's base-only oracle, so the hash match IS the
      // rebucket-preserves-every-probe-answer proof (the
      // dedup_winnow_persisted_rebucket discipline on the image layout).
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = docs.filter(col("doc_id") % 20 =!= 0)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_img_idx_reb_${math.abs(d.hashCode)}"
        Multimodal.writeImageDedupIndex(
          Multimodal.imageDHash(s, Multimodal.syntheticCloneJpegsFromDocuments(s,
            base.filter(col("doc_id") % 2 === 0), classes = 100).toDF()).toDF(),
          path, "graft_img_idx_reb", buckets = 4)
        Multimodal.appendImageDedupIndex(
          Multimodal.imageDHash(s, Multimodal.syntheticCloneJpegsFromDocuments(s,
            base.filter(col("doc_id") % 2 === 1), classes = 100).toDF()).toDF(),
          path, "graft_img_idx_reb", buckets = 4)
        graft.sources.Lake.rebucketBucketed(s, path, "graft_img_idx_reb",
          "bkey", oldBuckets = 4, newBuckets = 8)
        Multimodal.imageNearDupsAgainstIndex(
          Multimodal.imageDHash(s, Multimodal.syntheticCloneJpegsFromDocuments(s,
            docs.filter(col("doc_id") % 20 === 0), classes = 100).toDF()).toDF(),
          graft.sources.Lake.readBucketedVerified(s, path, "graft_img_idx_reb",
            "bkey", 8))
      },
      Some(dHashCtes("doc_id % 100") + dHashIndexProbeSelect), headline = true))

  // ------------------------------------------------------------------
  // corpus governance: decontamination, domain capping, mixture sampling,
  // incremental dedup, and the retrieval layer (BM25, inverted index)
  // ------------------------------------------------------------------
  private val searchQueries = Seq(
    Q("pipeline_decontaminate", // benchmark-overlap removal: flag corpus docs
      // sharing any word 3-gram with the held-out "eval" slice (doc_id % 20 = 0);
      // benchmark gram set broadcasts, corpus is never shuffled pre-aggregation
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.decontaminate(
          corpus = docs.filter(col("doc_id") % 20 =!= 0),
          benchmark = docs.filter(col("doc_id") % 20 === 0), n = 3)
      },
      Some(decontaminateOracle), headline = true),

    Q("pipeline_decontaminate_batch", // one-pass MULTI-benchmark contamination
      // report: 3 synthetic benchmarks carved from the eval slice
      // (bench_id = doc_id % 3); corpus tokenize/shingle/explode paid ONCE
      // however many benchmarks (the bm25TopKBatch principle). Spark keys
      // grams by xxhash64, the oracle by literal strings — identical barring
      // 64-bit collision
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.decontaminateBatch(
          corpus = docs.filter(col("doc_id") % 20 =!= 0),
          benchmarks = docs.filter(col("doc_id") % 20 === 0)
            .withColumn("bench_id", pmod(col("doc_id"), lit(3L))),
          n = 3)
      },
      Some(batchDecontaminateOracle)),

    Q("pipeline_decontaminate_batch_stateless", // the STREAMING face of the
      // multi-benchmark screen: every bench gram set rides the plan as a
      // codegen reference object, one map-only explode(k native
      // LongSetHitsExpr counts) per doc — no join, no aggregation, append-safe
      // (spec-run over a real MemoryStream); same matched pairs as the
      // join form, same oracle
      (s, d) => {
        val docs = Tables.documents(s, d)
        val models = Curation.benchmarkGramHashSets(
          docs.filter(col("doc_id") % 20 === 0)
            .withColumn("bench_id", pmod(col("doc_id"), lit(3L))), n = 3)
        Curation.decontaminateBatchStateless(
          docs.filter(col("doc_id") % 20 =!= 0), models, n = 3)
      },
      Some(batchDecontaminateOracle)),

    Q("pipeline_frequent_segments", // the CCNet/RefinedWeb boilerplate SIGNAL:
      // corpus segment-frequency table (segments = ". "-split sentences of the
      // single-line fixture docs), df = DISTINCT containing docs, df >= 10.
      // The raw corpus has no cross-doc sentences (docs are one segment), so
      // the fixture plants the regime: one corpus-wide banner (df = n) and a
      // doc_id%3 group sentence (df ~ n/3) — both surface; unique tails don't.
      (s, d) => Dedup.segmentFrequencies(boilerplateFixture(s, d), minDf = 10L),
      Some(boilerplateSegCtes + """
              SELECT seg AS segment, CAST(count(*) AS BIGINT) AS df
              FROM (SELECT DISTINCT doc_id, unnest(segs) AS seg FROM t) d1
              GROUP BY seg HAVING count(*) >= 10""")),

    Q("pipeline_remove_boilerplate", // the CCNet boilerplate step itself:
      // corpus-frequent segments removed IN PLACE (survivors rejoined in
      // order; an all-boilerplate doc cleans to ''), two-pass fit+apply with
      // the frequent table broadcast (bounded by segments/minDf — see the
      // operator scaladoc). Every fixture doc loses the banner; %3==0 docs
      // lose the group sentence too.
      (s, d) => Dedup.removeFrequentSegments(boilerplateFixture(s, d), minDf = 10L),
      Some(boilerplateRemovalOracle)),

    Q("pipeline_remove_boilerplate_stateless", // the ONE-PASS map-only apply
      // against the frozen xxhash64 segment model (LongSetContainsExpr probe
      // inside a higher-order filter — zero exchanges, stream-safe; the
      // StreamingSpec runs it on a live MemoryStream). Same oracle as the
      // join form: the driver hash-match IS the form-equivalence proof.
      (s, d) => {
        val docs = boilerplateFixture(s, d)
        Dedup.removeFrequentSegmentsStateless(docs,
          Dedup.frequentSegmentModel(docs, minDf = 10L))
      },
      Some(boilerplateRemovalOracle), headline = true),

    Q("pipeline_decontaminate_stateless", // the same verdicts via the literal-
      // probed stateless form (no join, no aggregation — the shape that runs
      // in streaming append mode); same oracle as pipeline_decontaminate
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.decontaminateAgainstHashes(
          docs.filter(col("doc_id") % 20 =!= 0),
          Curation.benchmarkGramHashes(docs.filter(col("doc_id") % 20 === 0), n = 3),
          n = 3)
      },
      Some(decontaminateOracle)),

    Q("pipeline_decontaminate_bloom", // the benchmark-outgrows-broadcast
      // regime as a PER-DOC driver gate: a distributed-fitted fixed-size
      // Bloom filter over the benchmark gram hashes, probed map-side by the
      // corpus. The SearchSpec superset pin, promoted per document: DuckDB
      // recomputes each doc's EXACT contamination verdict and expects
      // no_false_negative (exact-contaminated ⇒ bloom-flagged) to be TRUE on
      // every row — a single missed leak fails the hash compare. The filter
      // auto-sizes for a per-DOC FP target (see Curation.bloomBitsFor).
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") % 20 =!= 0)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        val exact = Curation.decontaminate(corpus, bench, n = 3)
          .select(col("doc_id"), col("contaminated").as("exact_contaminated"))
        val bloom = Curation.decontaminateBloom(corpus, bench, n = 3)
          .select(col("doc_id"), col("contaminated").as("__bloom"))
        exact.join(bloom, "doc_id")
          .select(col("doc_id"), col("exact_contaminated"),
            (!col("exact_contaminated") || col("__bloom")).as("no_false_negative"))
      },
      Some(decontaminateCtes + """
              SELECT c.doc_id, coalesce(h.m, 0) > 0 AS exact_contaminated,
                TRUE AS no_false_negative
              FROM corp c LEFT JOIN hits h USING (doc_id)"""), headline = true),

    Q("pipeline_decontaminate_spans", // SPAN-level decontamination, the
      // SURGICAL sibling of pipeline_decontaminate: every corpus token span
      // covered by a benchmark 3-gram, island-merged — the spans a
      // remove-the-quote policy cuts instead of dropping whole documents.
      // Wired on the xxhash64 gram key (scale path); the oracle keys on the
      // literal string — identical barring a 64-bit collision (the
      // dedup_dup_spans caveat).
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.contaminatedSpans(
          corpus = docs.filter(col("doc_id") % 20 =!= 0),
          benchmark = docs.filter(col("doc_id") % 20 === 0), n = 3)
      },
      Some(benchSpanCtes + islandSpansSelect(3))),

    Q("pipeline_decontaminate_trim", // the removal half: corpus documents
      // rebuilt with every benchmark-covered span dropped — clean docs pass
      // through whole, a verbatim benchmark copy trims to empty (the
      // whole-doc verdict recovered as the degenerate case)
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.decontaminateTrim(
          corpus = docs.filter(col("doc_id") % 20 =!= 0),
          benchmark = docs.filter(col("doc_id") % 20 === 0), n = 3)
      },
      Some(benchSpanCtes + """,
              corp AS (SELECT doc_id, toks FROM t WHERE doc_id % 20 <> 0)""" +
        trimSpansSelect("corp", 3)), headline = true),

    Q("w_stream_decontaminate_bloom", // the Bloom decontamination gate over a
      // REAL stream, now a DRIVER-VISIBLE stream≡batch gate: the fixed-size
      // filter fits BATCH-side (a model object, like centroids) and the
      // corpus pass is the map-only literal probe — append mode, zero state,
      // the regime where the broadcast-join form cannot run at all. The same
      // probe re-runs in batch over the same rows and the settled stream
      // verdicts must equal it multiset-exactly (StreamingSpec pin,
      // promoted); the fit is order-free (bit-OR of item hashes), so the two
      // passes probe identical filter bits.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bloom = Curation.fitBenchmarkBloom(
          docs.filter(col("doc_id") % 20 === 0), n = 3)
        def verdicts(src: DataFrame): DataFrame = Curation.decontaminateWithBloom(
          src.filter(col("doc_id") % 20 =!= 0), bloom, n = 3)
        val streamed = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wbloom_sink", verdicts, outputMode = "append")
        docs.filter(col("doc_id") % 20 =!= 0).agg(count(lit(1)).as("n_corpus_docs"))
          .crossJoin(multisetEqualCol(streamed, verdicts(docs)))
          .select(col("n_corpus_docs"), col("__eq").as("stream_equals_batch"))
      },
      Some(streamGateOracle("n_corpus_docs", "documents WHERE doc_id % 20 <> 0"))),

    Q("w_stream_lm_score_kn", // frozen-model KN scoring at the stream
      // boundary (the CCNet crawl-intake deployment): the model tables are
      // static, the distinct-type total rides as a collected literal (a
      // model parameter, like Bloom bits), so the stream pays stateless
      // stream-static LEFT joins + one per-doc aggregate. Settled stream
      // scores must equal the batch transfer form multiset-exactly.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val train = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        // fit the frozen model ONCE and hand the same checkpointed blocks to
        // both faces: the fit is deterministic, so sharing it changes job
        // count only
        val counts = Curation.knTransferCounts(train)
        val streamed = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wkn_sink",
          src => Curation.lmScoreKneserNeyTransferFrom(counts,
            src.filter(pmod(col("doc_id"), lit(2)) === 1)),
          outputMode = "complete")
        val batch = Curation.lmScoreKneserNeyTransferFrom(counts,
          docs.filter(pmod(col("doc_id"), lit(2)) === 1))
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .agg(count(lit(1)).as("n_scored_docs"))
          .crossJoin(multisetEqualCol(streamed, batch))
          .select(col("n_scored_docs"), col("__eq").as("stream_equals_batch"))
      },
      Some(streamGateOracle("n_scored_docs", "documents WHERE doc_id % 2 = 1"))),

    Q("w_stream_incremental_dedup", // the governance intake gate as a REAL
      // stream, now a DRIVER-VISIBLE stream≡batch gate: file-source docs ->
      // in-stream dropDuplicates(fp) -> stream-static LEFT ANTI join vs the
      // base fingerprint table. The settled stream's novel FINGERPRINT SET
      // must equal the batch-computed novel set exactly (which doc_id
      // survives a within-batch fp group depends on arrival order in BOTH
      // engines — the set of surviving fingerprints does not; the per-doc
      // semantics stay pinned in StreamingSpec). n_new_docs is DuckDB-exact.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val baseFps = docs.filter(col("doc_id") % 5 =!= 0)
          .select(TextFns.fastFingerprint(col("text")).as("fp"))
        val streamedFps = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_winc_sink", src => StreamingViews.streamIncrementalDedup(
            src.filter(col("doc_id") % 5 === 0), baseFps, unboundedStateOk = true)
            .select(col("doc_id"), col("fp")),
          outputMode = "append")
          .select(col("fp")).distinct()
        val batchFps = docs.filter(col("doc_id") % 5 === 0)
          .select(TextFns.fastFingerprint(col("text")).as("fp")).distinct()
          .join(baseFps, Seq("fp"), "left_anti")
        docs.filter(col("doc_id") % 5 === 0).agg(count(lit(1)).as("n_new_docs"))
          .crossJoin(multisetEqualCol(streamedFps, batchFps))
          .select(col("n_new_docs"), col("__eq").as("stream_equals_batch"))
      },
      Some(streamGateOracle("n_new_docs", "documents WHERE doc_id % 5 = 0"))),

    Q("w_stream_minhash_matches", // streaming NEAR-dup suspect stream, now a
      // DRIVER-VISIBLE stream≡batch gate: new docs (doc_id % 5 = 0) stream
      // against the frozen base's minhash bucket table — per-row signatures
      // (MinHashSigExpr, no streaming aggregation state), stateless
      // stream-static LEFT SEMI join, one doc-keyed dropDuplicates. The same
      // chain re-runs in batch and the settled stream output must equal it
      // multiset-exactly (StreamingSpec flag-once / novel-pass pin, promoted).
      (s, d) => {
        val docs = Tables.documents(s, d)
        // localCheckpoint: the bucket table is the persisted base artifact at
        // scale — materializing it here means the stream pass and its batch
        // twin probe the SAME table instead of re-signing the base twice
        val baseBuckets = Dedup.minhashBucketTable(
          docs.filter(col("doc_id") % 5 =!= 0)).localCheckpoint(true)
        def flagged(src: DataFrame): DataFrame =
          StreamingViews.streamMinhashBaseMatches(
            src.filter(col("doc_id") % 5 === 0), baseBuckets, unboundedStateOk = true)
            .select(col("doc_id"))
        val streamed = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wmh_sink", flagged, outputMode = "append")
        docs.filter(col("doc_id") % 5 === 0).agg(count(lit(1)).as("n_new_docs"))
          .crossJoin(multisetEqualCol(streamed, flagged(docs)))
          .select(col("n_new_docs"), col("__eq").as("stream_equals_batch"))
      },
      Some(streamGateOracle("n_new_docs", "documents WHERE doc_id % 5 = 0"))),

    Q("w_stream_winnow_matches", // streaming SUBSTRING-overlap suspect stream
      // as a stream≡batch gate: new docs (doc_id % 5 = 0) stream against the
      // frozen base's persisted winnowing fingerprint table — the per-row
      // WinnowExpr projection needs no streaming aggregation state, stateless
      // stream-static LEFT SEMI join, one doc-keyed dropDuplicates. Flags
      // docs sharing a >= w+k-1-token run with the base even when whole-doc
      // MinHash similarity stays below threshold. Same chain re-runs in
      // batch; settled stream output must equal it multiset-exactly.
      (s, d) => {
        val docs = Tables.documents(s, d)
        // the persisted base artifact: materialize once so the stream pass
        // and its batch twin probe the SAME table
        val baseFps = Dedup.winnowFingerprints(
          docs.filter(col("doc_id") % 5 =!= 0), k = 5, w = 4).localCheckpoint(true)
        def flagged(src: DataFrame): DataFrame =
          StreamingViews.streamWinnowBaseMatches(
            src.filter(col("doc_id") % 5 === 0), baseFps, k = 5, w = 4,
            unboundedStateOk = true)
            .select(col("doc_id"))
        val streamed = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wwin_sink", flagged, outputMode = "append")
        docs.filter(col("doc_id") % 5 === 0).agg(count(lit(1)).as("n_new_docs"))
          .crossJoin(multisetEqualCol(streamed, flagged(docs)))
          .select(col("n_new_docs"), col("__eq").as("stream_equals_batch"))
      },
      Some(streamGateOracle("n_new_docs", "documents WHERE doc_id % 5 = 0"))),

    Q("w_stream_gif_frames", // the format-aware multimodal path on a LIVE
      // stream: encode -> GIF block walk is a stateless typed mapPartitions
      // chain, so it runs unchanged in append mode with ZERO streaming state
      // — the stream-vs-batch multiset equality plus the arithmetic frame
      // total make the parity driver-visible (the ingest shape for media
      // arriving on a landing directory).
      (s, d) => {
        def frames(src: DataFrame): DataFrame =
          Multimodal.gifFrames(s,
            Multimodal.syntheticGifsFromDocuments(s, src).toDF()).toDF()
        val streamed = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wgif_sink", frames, outputMode = "append")
        val batch = frames(Tables.documents(s, d))
        batch.agg(count(lit(1)).as("n_frames"))
          .crossJoin(multisetEqualCol(streamed, batch))
          .select(col("n_frames"), col("__eq").as("stream_equals_batch"))
      },
      Some("""SELECT CAST(sum(doc_id % 3 + 1) AS BIGINT) AS n_frames,
              TRUE AS stream_equals_batch FROM documents""")),

    Q("w_stream_wav_windows", // the AUDIO half of the streaming multimodal
      // parity (the w_stream_gif_frames precedent):
      // encode -> RIFF chunk walk -> PCM16 windowing is equally stateless, so
      // the chain runs unchanged in append mode with ZERO streaming state;
      // the stream-vs-batch multiset equality plus the arithmetic window
      // total make the parity driver-visible (media landing on a directory,
      // windowed features extracted as files arrive).
      (s, d) => {
        def windows(src: DataFrame): DataFrame =
          Multimodal.wavWindows(s,
            Multimodal.syntheticWavsFromDocuments(s, src).toDF(),
            windowSamples = 32, hopSamples = 16).toDF()
        val streamed = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wwav_sink", windows, outputMode = "append")
        val batch = windows(Tables.documents(s, d))
        batch.agg(count(lit(1)).as("n_windows"))
          .crossJoin(multisetEqualCol(streamed, batch))
          .select(col("n_windows"), col("__eq").as("stream_equals_batch"))
      },
      Some("""SELECT CAST(sum((64 + doc_id % 37 - 1) // 16 + 1) AS BIGINT) AS n_windows,
              TRUE AS stream_equals_batch FROM documents""")),

    Q("w_stream_avi_frames", // the VIDEO half of the streaming multimodal
      // parity: encode -> RIFF/AVI list walk -> per-frame baseline-JPEG
      // decode is stateless end to end (the w_stream_gif_frames shape with a
      // real video container + real entropy-coded codec inside), so it runs
      // unchanged in append mode with ZERO streaming state; stream-vs-batch
      // multiset equality plus the arithmetic frame total make the parity
      // driver-visible.
      (s, d) => {
        def frames(src: DataFrame): DataFrame =
          Multimodal.aviFramePixels(s,
            Multimodal.syntheticAvisFromDocuments(s, src).toDF()).toDF()
        val streamed = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wavi_sink", frames, outputMode = "append")
        val batch = frames(Tables.documents(s, d))
        batch.agg(count(lit(1)).as("n_frames"), sum(col("pixel_sum")).as("total_pixel_sum"))
          .crossJoin(multisetEqualCol(streamed, batch))
          .select(col("n_frames"), col("total_pixel_sum"),
            col("__eq").as("stream_equals_batch"))
      },
      Some(aviFramesCte + """
              SELECT CAST(count(*) AS BIGINT) AS n_frames,
                CAST(sum(list_sum(list_transform(generate_series(0, w * h - 1),
                  j -> (doc_id * 31 + i * 257 + ((j // w) // 8) * 37 + ((j % w) // 8) * 11) % 251)))
                  AS BIGINT) AS total_pixel_sum,
                TRUE AS stream_equals_batch FROM f""")),

    Q("w_stream_scene_cuts", // scene-cut detection on a LIVE stream: the
      // per-frame deltas AND the per-video keyframe rank are computed
      // entirely within one row's payload (all frames of a video sit in one
      // AVI), so the chain is stateless end to end and runs unchanged in
      // append mode with ZERO streaming state — the sampling gate a video
      // ingest pipeline runs as files land on a directory. Stream-vs-batch
      // multiset equality plus the arithmetic rank total (Σ m(m+1)/2 over
      // each video's m frames) make the parity driver-visible.
      (s, d) => {
        def cuts(src: DataFrame): DataFrame =
          Multimodal.sceneCuts(s,
            Multimodal.syntheticAvisFromDocuments(s, src).toDF()).toDF()
        val streamed = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wcut_sink", cuts, outputMode = "append")
        val batch = cuts(Tables.documents(s, d))
        batch.agg(count(lit(1)).as("n_frames"), sum(col("key_rank")).as("total_rank"))
          .crossJoin(multisetEqualCol(streamed, batch))
          .select(col("n_frames"), col("total_rank"),
            col("__eq").as("stream_equals_batch"))
      },
      Some("""SELECT CAST(sum(doc_id % 3 + 1) AS BIGINT) AS n_frames,
              CAST(sum(((doc_id % 3 + 1) * (doc_id % 3 + 2)) // 2) AS BIGINT) AS total_rank,
              TRUE AS stream_equals_batch FROM documents""")),

    Q("w_stream_wav_spectrum", // spectral features on a LIVE stream: the
      // fixed-point DFT and the per-window centroid are local to one row's
      // payload — stateless, append mode, ZERO streaming state (the
      // w_stream_wav_windows shape with the spectral feature inside).
      // Stream-vs-batch multiset equality plus the arithmetic row total
      // (4 bins × windows) make the parity driver-visible.
      (s, d) => {
        def spectra(src: DataFrame): DataFrame =
          Multimodal.wavSpectrum(s,
            Multimodal.syntheticWavsFromDocuments(s, src).toDF()).toDF()
        val streamed = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wspec_sink", spectra, outputMode = "append")
        val batch = spectra(Tables.documents(s, d))
        batch.agg(count(lit(1)).as("n_rows"))
          .crossJoin(multisetEqualCol(streamed, batch))
          .select(col("n_rows"), col("__eq").as("stream_equals_batch"))
      },
      Some("""SELECT CAST(4 * sum((63 + doc_id % 37) // 16 + 1) AS BIGINT) AS n_rows,
              TRUE AS stream_equals_batch FROM documents""")),

    Q("w_stream_wav_resample", // anti-alias FIR resampling on a LIVE stream
      // (the one missing media streaming twin): the
      // L-tap convolution and per-file checksums are local to one row's
      // payload — stateless, append mode, ZERO streaming state (the
      // w_stream_wav_spectrum shape with the resampler inside). Stream-vs-
      // batch multiset equality plus the arithmetic output-sample total
      // (Σ (n+1)/2 over the fixture lengths) make the parity driver-visible
      // against the same exact-integer oracle that gates the batch form.
      (s, d) => {
        def resampled(src: DataFrame): DataFrame =
          Multimodal.wavResample(s,
            Multimodal.syntheticWavsFromDocuments(s, src).toDF(),
            factor = 2, halfTaps = 7, scaleBits = 12).toDF()
        val streamed = StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wresamp_sink", resampled, outputMode = "append")
        val batch = resampled(Tables.documents(s, d))
        batch.agg(count(lit(1)).as("n_files"), sum(col("n_out")).as("total_out"))
          .crossJoin(multisetEqualCol(streamed, batch))
          .select(col("n_files"), col("total_out"),
            col("__eq").as("stream_equals_batch"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_files,
              CAST(sum((64 + doc_id % 37 + 1) // 2) AS BIGINT) AS total_out,
              TRUE AS stream_equals_batch FROM documents""")),

    Q("w_stream_pca_drift", // EMBEDDING-DRIFT monitor on a live stream — the
      // pipeline_token_drift idea for the vector channel: freeze a WHITENED
      // PCA model (fit in batch), project each arriving vector map-only
      // under the broadcast model, and maintain per-dimension running
      // moments in complete mode (count/sum/sum-of-squares — the same
      // mergeable statistics the batch diagnostics use). At settle over the
      // training corpus the moments must reproduce EXACTLY (mean 0,
      // variance 1) per dimension — the pipeline_embedding_whiten constant
      // gate, now proven through a real Structured Streaming aggregation;
      // in production the same query over NEW data reads drift directly as
      // (variance − 1) per principal axis.
      (s, d) => {
        val model = Similarity.fitPca(Tables.embeddings(s, d),
          dim = 64, outDim = 16, whiten = true)
        def drift(src: DataFrame): DataFrame =
          Similarity.pcaProject(src, model)
            .select(posexplode(col("pca")).as(Seq("dim_idx", "v")))
            .groupBy("dim_idx")
            .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
              sum(col("v") * col("v")).as("ss"))
        val settled = StreamingViews.runToMemory(s, s"$d/embeddings.parquet",
          "graft_wpca_sink", drift, outputMode = "complete")
        settled.select(col("dim_idx"),
          round(col("s") / col("n"), 6).as("mean_r"),
          round(col("ss") / col("n") - (col("s") / col("n")) * (col("s") / col("n")), 6)
            .as("variance_r"))
      },
      Some("""SELECT CAST(i AS INT) AS dim_idx, 0.0 AS mean_r, 1.0 AS variance_r
              FROM (SELECT unnest(generate_series(0, 15)) AS i) t"""), headline = true),

    Q("pipeline_data_card", // the per-(domain, lang) release summary: volumes,
      // length distribution, exact-dup rate — one keyed aggregation pass
      (s, d) => Curation.dataCard(Tables.documents(s, d)),
      Some("""WITH t AS (SELECT source AS domain, lang, text,
                string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks,
                lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
                FROM documents),
              x AS (SELECT domain, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(length(text) AS BIGINT) AS n_chars, norm FROM t)
              SELECT domain, lang, count(*) AS docs,
                CAST(sum(n_tokens) AS BIGINT) AS tokens,
                min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
                round(avg(CAST(n_tokens AS DOUBLE)), 6) AS avg_tokens,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                count(DISTINCT norm) AS distinct_docs,
                round(1.0 - CAST(count(DISTINCT norm) AS DOUBLE) / count(*), 6) AS dup_rate
              FROM x GROUP BY domain, lang""")),

    Q("q_profile_nulls", // data-quality profiling closure: per-column null
      // and distinct counts in ONE pass (count(col) skips nulls; the
      // distincts expand to one shared shuffle)
      (s, d) => Tables.events(s, d).agg(
        count(lit(1)).as("rows"),
        (count(lit(1)) - count(col("user_id"))).as("user_id_nulls"),
        countDistinct(col("user_id")).as("user_id_distinct"),
        (count(lit(1)) - count(col("event_type"))).as("event_type_nulls"),
        countDistinct(col("event_type")).as("event_type_distinct"),
        (count(lit(1)) - count(col("value"))).as("value_nulls"),
        round(avg(col("value")), 6).as("value_mean")),
      Some("""SELECT count(*) AS rows,
              count(*) - count(user_id) AS user_id_nulls,
              count(DISTINCT user_id) AS user_id_distinct,
              count(*) - count(event_type) AS event_type_nulls,
              count(DISTINCT event_type) AS event_type_distinct,
              count(*) - count(value) AS value_nulls,
              round(avg(value), 6) AS value_mean
              FROM events""")),

    Q("pipeline_domain_cap", // anti-domination mixing rule: keep the 10 longest
      // docs per source domain (full tie-break); one window per domain partition
      (s, d) => Curation.capPerDomain(Tables.documents(s, d), maxPerDomain = 10),
      Some("""WITH r AS (SELECT doc_id, source AS domain, n_chars,
                CAST(row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank_in_domain
                FROM documents)
              SELECT doc_id, domain, n_chars, rank_in_domain
              FROM r WHERE rank_in_domain <= 10""")),

    Q("pipeline_mixture", // mixture weights → deterministic content-keyed
      // sampling (rolling-hash fingerprint mod 10000, oracle-reproducible);
      // map-only, no shuffle, no RNG state
      (s, d) => Curation.mixtureSample(Tables.documents(s, d),
        weights = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.0),
        defaultWeight = 0.35),
      Some(fingerprintCtes + """,
              w AS (SELECT doc_id, source AS domain, fp,
                CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                            WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.0
                            ELSE 0.35 END AS rate FROM f)
              SELECT doc_id, domain FROM w
              WHERE fp % 10000 < CAST(rate * 10000 AS BIGINT)""")),

    Q("pipeline_mixture_temperature", // temperature-flattened domain mixture
      // (q_d ∝ p_d^(1/tau), the multilingual-mix step): rates derive from the
      // corpus' own domain counts — the fixture's sources are uniform, so the
      // entry derives a skewed 60/30/10 domain split from doc_id to give the
      // flattening something to flatten (tau=2, budget=0.5 → keep ~39% of
      // 'web', ~96% of 'code'); keep decision = same content-hash as
      // pipeline_mixture
      (s, d) => Curation.mixtureTemperature(
        Tables.documents(s, d).withColumn("source",
          when(pmod(col("doc_id"), lit(10)) < 6, "web")
            .when(pmod(col("doc_id"), lit(10)) < 9, "books")
            .otherwise("code")),
        tau = 2.0, budget = 0.5),
      Some(s"""WITH docs AS (SELECT doc_id, text,
                CASE WHEN doc_id % 10 < 6 THEN 'web'
                     WHEN doc_id % 10 < 9 THEN 'books'
                     ELSE 'code' END AS domain FROM documents),
              n AS (SELECT domain, CAST(count(*) AS DOUBLE) AS n_d FROM docs GROUP BY 1),
              tot AS (SELECT sum(n_d) AS n FROM n),
              f AS (SELECT domain, n_d, n, pow(n_d / n, 0.5) AS w FROM n, tot),
              z AS (SELECT sum(w) AS z FROM f),
              r AS (SELECT domain,
                CAST(round(least(1.0, 0.5 * n * (w / z) / n_d) * 10000) AS BIGINT) AS thr
                FROM f, z),
              t AS (SELECT doc_id, domain,
                regexp_replace($normSql,
                  '[^a-z0-9 ]', '', 'g') AS clean FROM docs),
              fp AS (SELECT doc_id, domain,
                $cleanFingerprintSql % 10000 AS fp FROM t)
              SELECT doc_id, domain FROM fp JOIN r USING (domain)
              WHERE fp < thr""")),

    Q("pipeline_mixture_upsample", // epoch-style mixing: weights above 1 emit
      // floor(w) copies + a content-hash-decided fractional epoch; copy_id
      // lets packing interleave copies
      (s, d) => Curation.mixtureUpsample(Tables.documents(s, d),
        weights = Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 2.0),
        defaultWeight = 1.0),
      Some(fingerprintCtes + """,
              w AS (SELECT doc_id, source AS domain, fp,
                CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.5
                            WHEN 'src2' THEN 2.0 ELSE 1.0 END AS w FROM f),
              c AS (SELECT doc_id, domain,
                CAST(floor(w) AS BIGINT) +
                  CASE WHEN fp % 10000 < CAST((w - floor(w)) * 10000 AS BIGINT)
                       THEN 1 ELSE 0 END AS n_copies FROM w)
              SELECT doc_id, domain,
                unnest(generate_series(0, n_copies - 1)) AS copy_id
              FROM c WHERE n_copies > 0""")),

    Q("pipeline_split", // deterministic train/val/test assignment: split is a
      // pure content-hash function — reproducible across engines, and a
      // re-crawled duplicate lands in the SAME split (no leakage); map-only
      (s, d) => Curation.assignSplit(Tables.documents(s, d),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)),
      Some(fingerprintCtes + """
              SELECT doc_id, CASE
                WHEN fp % 10000 < 9000 THEN 'train'
                WHEN fp % 10000 < 9500 THEN 'val'
                ELSE 'test' END AS split FROM f"""), headline = true),

    Q("pipeline_split_fp", // the 100 TB path of pipeline_split as a
      // DRIVER-VISIBLE gate: identical split semantics keyed on xxhash64
      // instead of the char-wise rolling hash (one hash pass, ~20x at 1M
      // docs). The PropertySpec gates, promoted: per-split
      // proportions track the slow-hash form (fracs_ok) and exact duplicates
      // never split apart (dup_consistent — the leak-proof-splits property);
      // n_docs is DuckDB-exact. Tolerance is 5pp HERE, not the spec's 1pp:
      // the sf fixtures plant duplicate groups (one hash draw each) and the
      // val/test strata are tens of docs, so the measured honest noise floor
      // is 3.0pp at sf0.001 / 2.2pp at sf0.01 / 1.1pp at sf0.1 — the 1pp
      // property on a 20k-DISTINCT-doc corpus stays asserted in PropertySpec;
      // this driver gate catches gross breakage (a degenerate hash collapses
      // a stratum by far more than 5pp).
      (s, d) => {
        val docs = Tables.documents(s, d)
        val fracs = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
        val fast = Curation.assignSplit(docs, fracs, fastHash = true)
        val slow = Curation.assignSplit(docs, fracs)
        val tot = docs.agg(count(lit(1)).as("n_docs"))
        val maxDiv = fast.groupBy("split").agg(count(lit(1)).as("__nf"))
          .join(slow.groupBy("split").agg(count(lit(1)).as("__ns")), Seq("split"), "full")
          .crossJoin(tot)
          .select((abs(coalesce(col("__nf"), lit(0L)) - coalesce(col("__ns"), lit(0L)))
            / col("n_docs")).as("__d"))
          .agg(max(col("__d")).as("__maxd"))
        val dupOk = fast.join(docs.select("doc_id", "text"), "doc_id")
          .groupBy(col("text")).agg(countDistinct(col("split")).as("__k"))
          .agg(sum(when(col("__k") === 1L, 0L).otherwise(1L)).as("__badDup"))
        tot.crossJoin(maxDiv).crossJoin(dupOk)
          .select(col("n_docs"), (col("__maxd") <= 0.05).as("fracs_ok"),
            (col("__badDup") === 0).as("dup_consistent"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS fracs_ok,
              TRUE AS dup_consistent
              FROM documents""")),

    Q("pipeline_dsir_weights", // DSIR importance resampling (Xie et al. 2023):
      // per-doc log importance weight of the target-domain n-gram model
      // (sources src0/src1 as the "high-quality target") vs the raw corpus'
      // own — the data-selection score a pipeline feeds to its resampler.
      // One tokenize pass per side, vocab-bounded count models, corpus pays
      // ONE feature equi-join; scalars ride a single-row broadcast
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.dsirWeights(docs, docs.filter(col("source").isin("src0", "src1")))
      },
      Some(tokensCte + """,
              fr AS (SELECT doc_id, f FROM (SELECT doc_id, unnest(list_concat(toks,
                  CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1]) ELSE [] END)) AS f FROM t)
                WHERE length(f) > 0),
              cr AS (SELECT f, count(*) AS c_r FROM fr GROUP BY f),
              ct AS (SELECT f, count(*) AS c_t FROM fr JOIN documents USING (doc_id)
                WHERE source IN ('src0', 'src1') GROUP BY f),
              m AS (SELECT cr.f, c_r, coalesce(c_t, CAST(0 AS BIGINT)) AS c_t
                FROM cr LEFT JOIN ct USING (f)),
              st AS (SELECT CAST(sum(c_r) AS DOUBLE) AS r_tot,
                CAST(sum(c_t) AS DOUBLE) AS t_tot,
                CAST(count(*) AS DOUBLE) AS vocab FROM m),
              agg AS (SELECT doc_id, count(*) AS n_feats,
                sum(ln((CAST(c_t AS DOUBLE) + 0.5) / (CAST(c_r AS DOUBLE) + 0.5))) AS s
                FROM fr JOIN m USING (f) GROUP BY doc_id)
              SELECT doc_id, n_feats,
                round(s + n_feats * (ln(r_tot + 0.5 * vocab) - ln(t_tot + 0.5 * vocab)), 6)
                  AS dsir_logw
              FROM agg CROSS JOIN st""")),

    Q("pipeline_dsir_weights_hashed", // the paper's actual 100 TB form as a
      // DRIVER-VISIBLE selection-agreement gate: features collapse to
      // xxhash64 mod 4096 buckets, so BOTH count models are dense <=4096-row
      // tables no matter the corpus size. The PropertySpec gate, promoted:
      // the top-half selection under hashed weights must overlap the
      // exact-feature form's top half by >= 0.7 (what a resampler actually
      // consumes is the selection, not the raw weight). n_docs is
      // DuckDB-exact; the exact form keeps its full hash oracle in
      // pipeline_dsir_weights.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val target = docs.filter(col("source").isin("src0", "src1"))
        def topHalf(df: DataFrame, w: String): DataFrame = {
          // threshold selection, NOT a global row_number window (an
          // unpartitioned rank sorts the whole corpus in one task — the
          // sweep PlanSpec's gate enforces). One median
          // aggregate broadcast back, keep everything at or above it — the
          // qualityQuantileFilter shape; DSIR log-weights are continuous
          // doubles, so boundary ties are measure-zero and only widen both
          // selections symmetrically.
          val th = df.agg(expr(s"percentile($w, 0.5)").as("__t"))
          df.crossJoin(broadcast(th)).filter(col(w) >= col("__t")).select("doc_id")
        }
        val exact = Curation.dsirWeights(docs, target)
          .select(col("doc_id"), col("dsir_logw").as("__we"))
        val hashed = Curation.dsirWeights(docs, target, hashBuckets = 4096)
          .select(col("doc_id"), col("dsir_logw").as("__wh"))
        val overlap = topHalf(exact, "__we").join(topHalf(hashed, "__wh"), "doc_id")
          .agg(count(lit(1)).as("__o"))
        docs.agg(count(lit(1)).as("n_docs")).crossJoin(overlap)
          .select(col("n_docs"),
            (col("__o") >= floor(col("n_docs") / 2) * 0.7).as("selection_overlap_ok"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS selection_overlap_ok
              FROM documents""")),

    Q("pipeline_curate_audit", // the curation chain with per-document
      // verdicts instead of silent drops: first failing gate in gate order,
      // or duplicate (with the winning survivor_id), or kept — the
      // governance answer to "which rule killed this document"
      (s, d) => Curation.curateAudit(Tables.documents(s, d),
        lang = "en", minTokens = 20, maxAvgTokenLen = 5.0),
      Some(curateAuditOracle)),

    Q("pipeline_curate_audit_fp", // 100 TB form of the audit: both exchanges
      // (survivor agg + verdict re-join) carry xxhash64 keys, never text;
      // verdicts identical barring 64-bit collision, so the SAME oracle
      // hash-matches (the pipeline_curate_fp precedent)
      (s, d) => Curation.curateAudit(Tables.documents(s, d),
        lang = "en", minTokens = 20, maxAvgTokenLen = 5.0, fastHash = true),
      Some(curateAuditOracle)),

    Q("pipeline_snapshot_diff", // corpus snapshot diff (added/removed/changed
      // between two crawls): each side reduces to (doc_id, 8-byte
      // fingerprint) map-side before ONE full-outer id join — no document
      // body crosses the exchange; unchanged docs never materialize. Oracle
      // compares normalized text directly — verdicts identical barring
      // 64-bit collision (pipeline_curate_fp caveat)
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.snapshotDiff(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 7 =!= 0)
            .withColumn("text", when(col("doc_id") % 11 === 0,
              concat(col("text"), lit(" edited"))).otherwise(col("text"))))
      },
      Some("""WITH o AS (SELECT doc_id,
                lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
                FROM documents WHERE doc_id % 5 != 0),
              n AS (SELECT doc_id, lower(trim(regexp_replace(
                  text || CASE WHEN doc_id % 11 = 0 THEN ' edited' ELSE '' END,
                  '\s+', ' ', 'g'))) AS norm
                FROM documents WHERE doc_id % 7 != 0),
              v AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.doc_id IS NULL THEN 'removed'
                     WHEN o.norm != n.norm THEN 'changed'
                     ELSE 'unchanged' END AS status
                FROM o FULL JOIN n ON o.doc_id = n.doc_id)
              SELECT doc_id, status FROM v WHERE status != 'unchanged'""")),

    Q("pipeline_token_drift", // content-level snapshot monitor: Jensen-
      // Shannon divergence (log2, [0,1]) between the en and fr slices'
      // unigram distributions, decomposed per token and ranked — "the crawl
      // shifted: WHAT shifted". Corpus work is one token-count agg per side;
      // everything after runs on vocab-bounded frames
      (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.tokenDistributionDrift(
          docs.filter(col("lang") === "en"), docs.filter(col("lang") === "fr"))
      },
      Some("""WITH ta AS (SELECT unnest(string_split(
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
                FROM documents WHERE lang = 'en'),
              tb AS (SELECT unnest(string_split(
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
                FROM documents WHERE lang = 'fr'),
              ca AS (SELECT token, count(*) AS c FROM ta WHERE len(token) > 0 GROUP BY 1),
              cb AS (SELECT token, count(*) AS c FROM tb WHERE len(token) > 0 GROUP BY 1),
              pa AS (SELECT token, c * 1.0 / sum(c) OVER () AS p_a FROM ca),
              pb AS (SELECT token, c * 1.0 / sum(c) OVER () AS p_b FROM cb),
              j AS (SELECT token, coalesce(p_a, 0) AS p_a, coalesce(p_b, 0) AS p_b
                FROM pa FULL JOIN pb USING (token)),
              c2 AS (SELECT token, p_a, p_b,
                round(CASE WHEN p_a > 0
                        THEN p_a * log2(p_a / ((p_a + p_b) / 2)) * 0.5 ELSE 0 END +
                      CASE WHEN p_b > 0
                        THEN p_b * log2(p_b / ((p_a + p_b) / 2)) * 0.5 ELSE 0 END, 9)
                  AS js_contrib
                FROM j),
              t AS (SELECT token, p_a, p_b, js_contrib,
                round(sum(js_contrib) OVER (), 6) AS js_total,
                row_number() OVER (ORDER BY js_contrib DESC, token ASC) AS rk FROM c2)
              SELECT token, round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
                round(js_contrib, 6) AS js_contrib, js_total
              FROM t WHERE rk <= 20""")),

    Q("pipeline_embedding_outliers", // embedding-space curation gate: flag
      // vectors whose cosine to the global corpus centroid is < -0.15 (the
      // bottom ~5% tail on the fixture — off-manifold encoder failures /
      // garbage inputs). Centroid = ONE (dim)-keyed avg reassembled in dim
      // order, broadcast back; scoring map-only; hash-oracled end to end
      (s, d) => Similarity.centroidOutliers(Tables.embeddings(s, d), threshold = -0.15),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE embedding IS NOT NULL),
              d AS (SELECT unnest(v) AS x,
                unnest(generate_series(1, len(v))) AS dim FROM e),
              cd AS (SELECT dim, avg(x) AS m FROM d GROUP BY 1),
              cent AS (SELECT list(m ORDER BY dim) AS c FROM cd),
              sc AS (SELECT vec_id, round(
                  list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(v)),
                    i -> v[i] * c[i])), (acc, x) -> acc + x)
                / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(v)),
                    i -> v[i] * v[i])), (acc, x) -> acc + x))
                 * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(c)),
                    i -> c[i] * c[i])), (acc, x) -> acc + x))), 6) AS centroid_cos
                FROM e, cent)
              SELECT vec_id, centroid_cos, centroid_cos < -0.15 AS is_outlier FROM sc"""), headline = true),

    Q("pipeline_cluster_balance", // cluster-balanced pruning (Sorscher et al.
      // 2022 / DataComp): assign to 8 frozen seed centroids (the vec_id < 8
      // vectors — deterministic, oracle-replayable), keep <= 40 per cluster
      // by 52-bit md5 rank (exact in the heap's double score). Map-only
      // assignment + ONE k-bounded heap aggregation (TopKByScoreAgg) — no
      // window sort, so a power-law hot cluster combines map-side
      (s, d) => Curation.clusterBalance(Tables.embeddings(s, d),
        clusterSeeds(s, d), perCluster = 40),
      Some(clusterKeepOracle(
        "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 13)) AS BIGINT)")), headline = true),

    Q("pipeline_cluster_prune", // the keepHardest mode: within each cluster
      // keep the 40 LEAST prototypical vectors (ascending assigned-centroid
      // dot, 6-decimal sim key) — Sorscher's "prune easy examples" rule for
      // the abundant-data regime; same assignment, same heap aggregation
      (s, d) => Curation.clusterBalance(Tables.embeddings(s, d),
        clusterSeeds(s, d), perCluster = 40, keepHardest = true),
      Some(clusterKeepOracle("pdot"))),

    Q("pipeline_weighted_sample", // Efraimidis–Spirakis weighted sampling
      // without replacement: top-100 by ln(u)/w with u from the content
      // hash — deterministic across engines/partitionings (no RNG state),
      // longer docs preferred proportionally to n_chars; map-only + heap
      (s, d) => Curation.weightedSample(Tables.documents(s, d), k = 100),
      Some(fingerprintCtes + """,
              s AS (SELECT doc_id, CAST(d.n_chars AS DOUBLE) AS weight,
                round(ln((CAST(fp % 10000 AS DOUBLE) + 0.5) / 10000) / d.n_chars, 9)
                  AS es_key
                FROM f JOIN documents d USING (doc_id) WHERE d.n_chars > 0)
              SELECT doc_id, weight, es_key FROM s
              ORDER BY es_key DESC, doc_id LIMIT 100""")),

    Q("pipeline_shuffle", // deterministic corpus-shuffle keys: sort by
      // (shuffle_key, doc_id) for a stable pseudo-random training order,
      // reproducible across engines; seed inside the hash, map-only
      (s, d) => Curation.shuffleOrder(Tables.documents(s, d), seed = 7L),
      Some("""WITH t AS (SELECT doc_id,
                regexp_replace(lower(trim(regexp_replace('seed7 ' || text, '\s+', ' ', 'g'))),
                  '[^a-z0-9 ]', '', 'g') AS clean FROM documents)
              SELECT doc_id, """ + cleanFingerprintSql + """ AS shuffle_key
              FROM t""")),

    Q("q_funnel", // ordered-funnel completion signup→view→purchase within a
      // 7-day horizon of signup: per-stage user counts, each stage's earliest
      // qualifying event chained off the previous stage's time. Every stage
      // is a filtered min-agg (filter reaches the scan) joined user-keyed to
      // the |users|-row previous-stage table — no per-user event sort
      (s, d) => Analytics.funnel(Tables.events(s, d),
        Seq("signup", "view", "purchase"), maxSpanHours = 168),
      Some(funnelCtes + """
              SELECT 1 AS stage_idx, 'signup' AS stage, count(*) AS n_users FROM s1
              UNION ALL SELECT 2, 'view', count(*) FROM s2
              UNION ALL SELECT 3, 'purchase', count(*) FROM s3"""), headline = true),

    Q("q_retention_cohorts", // weekly retention triangle: cohort = week of a
      // user's first event; retained = any event in a later week. Two
      // user-keyed map-side-combined aggs; the (cohort, offset) count runs on
      // one row per user-week
      (s, d) => Analytics.retentionCohorts(Tables.events(s, d)),
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
              fs AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
                FROM e GROUP BY user_id),
              aw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM e)
              SELECT cohort_week,
                CAST(datediff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
                count(*) AS n_users
              FROM aw JOIN fs USING (user_id) GROUP BY 1, 2""")),

    Q("q_target_encode", // leave-one-out mean encoding of user_id by value
      // (Micci-Barreca smoothing 10 toward the global mean): the standard
      // high-cardinality categorical feature, leakage-free via the LOO
      // exclusion; exact integer-cent sums make it bit-reproducible
      (s, d) => Analytics.targetEncodeLoo(Tables.events(s, d)
          .select("event_id", "user_id", "value"),
        "user_id", "value", smoothing = 10.0),
      Some("""WITH e AS (SELECT event_id, user_id, value,
                CAST(round(value * 100) AS BIGINT) AS c FROM events),
              g AS (SELECT CAST(sum(c) AS BIGINT) AS gs, count(*) AS gn FROM e),
              st AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS s,
                count(*) AS n FROM e GROUP BY user_id)
              SELECT user_id, event_id, value,
                round(((st.s - e.c) * gn + 10.0 * gs)
                  / (100.0 * gn * (st.n - 1 + 10.0)), 6) AS te_loo
              FROM e JOIN st USING (user_id) CROSS JOIN g"""), headline = true),

    Q("q_rolling_features", // feature-engineering projection: per-user lag-1/2
      // values and preceding-3-row mean/min/max in one shared per-key ordered
      // pass (one shuffle on the key, all windows reuse the sort); leading
      // edge is null per the standard contract
      (s, d) => Analytics.rollingFeatures(Tables.events(s, d)
          .select("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "value", "event_id"),
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
                FROM events)
              SELECT user_id, ts, event_id, value,
                lag(value, 1) OVER w AS lag_1,
                lag(value, 2) OVER w AS lag_2,
                round(avg(value) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 6) AS roll_mean,
                min(value) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS roll_min,
                max(value) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS roll_max
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""")),

    Q("q_hourly_anomalies", // operational monitoring: z-score of each hour's
      // event count vs the trailing 24 OBSERVED hours per type (rows frame);
      // events reduce to (type, hour) counts map-side before the tiny
      // per-type window — no event ever enters a window sort
      (s, d) => Analytics.hourlyAnomalies(Tables.events(s, d),
        trailingHours = 24, zThreshold = 3.0),
      Some("""WITH h AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
                count(*) AS cnt FROM events GROUP BY 1, 2),
              wdw AS (SELECT event_type, hour, cnt,
                avg(cnt) OVER (PARTITION BY event_type ORDER BY hour
                  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS mu,
                stddev_samp(cnt) OVER (PARTITION BY event_type ORDER BY hour
                  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS sd
                FROM h),
              z AS (SELECT event_type, hour, cnt, round(mu, 6) AS trailing_mean,
                CASE WHEN sd > 0 THEN round((cnt - mu) / sd, 6) END AS zscore
                FROM wdw)
              SELECT event_type, hour, cnt, trailing_mean, zscore,
                coalesce(abs(zscore) >= 3.0, false) AS is_anomaly FROM z""")),

    Q("q_sessionize", // gap-based batch sessionization (30-min gap per user):
      // lag boundary detection + running sum — the batch twin of the
      // streaming session window
      (s, d) => Ops.sessionize(Tables.events(s, d), Seq("user_id"), "ts",
        "event_id", gapSeconds = 1800L)
        .select("event_id", "user_id", "session_seq"),
      Some(sessionizeOracle), headline = true),

    Q("q_sessionize_skewsafe", // two-level skew-safe sessionization: sort
      // within (user, 1h range) then merge boundary sessions — no task ever
      // sorts a hot key's full history. Same oracle as q_sessionize: the
      // two forms are output-identical by construction (hash-checked here,
      // equality-spec'd in OpsSpec).
      (s, d) => Ops.sessionizeSkewSafe(Tables.events(s, d), Seq("user_id"), "ts",
        "event_id", gapSeconds = 1800L, rangeSeconds = 3600L)
        .select("event_id", "user_id", "session_seq"),
      Some(sessionizeOracle)),

    Q("dedup_incremental", // cross-snapshot dedup: new batch (doc_id % 5 = 0)
      // self-dedups then anti-joins the base corpus — both sides reduced to
      // 8-byte fingerprints before any exchange (oracle groups/anti-joins on
      // the norm text; identical barring a 64-bit collision, cf pipeline_curate_fp)
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.incrementalDedup(
          batch = docs.filter(col("doc_id") % 5 === 0),
          base = docs.filter(col("doc_id") % 5 =!= 0))
      },
      Some(normCte + """,
              nb AS (SELECT min(doc_id) AS doc_id, count(*) AS batch_dup_count, norm
                FROM t WHERE doc_id % 5 = 0 GROUP BY norm)
              SELECT doc_id, batch_dup_count FROM nb
              WHERE norm NOT IN (SELECT norm FROM t WHERE doc_id % 5 <> 0)"""), headline = true),

    Q("dedup_incremental_minhash", // cross-snapshot NEAR-dedup, the fuzzy
      // sibling of dedup_incremental, as a DRIVER-VISIBLE recall gate:
      // per-batch-doc keep/drop verdict vs within-batch near-dups (greedy
      // pair rule) and base-corpus near-dups (banded signature join; base
      // signatures are the persisted artifact at scale). Gated vs the EXACT
      // prefix-blocked 3-gram Jaccard truth at the banding threshold (0.5):
      // batch docs with a true base near-dup must carry base_match_count > 0
      // at >= the DedupSpec 0.8 recall floor. n_batch is DuckDB-exact.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val isBatch = (c: Column) => c % 5 === 0
        val verdicts = Dedup.incrementalMinhashDedup(
          batch = docs.filter(col("doc_id") % 5 === 0),
          base = docs.filter(col("doc_id") % 5 =!= 0))
        val truth = Dedup.ngramJaccardPairs(docs, n = 3, prefixLen = 40,
          threshold = 0.5)
        val baseWitness = truth
          .filter(isBatch(col("a_id")) && !isBatch(col("b_id")))
          .select(col("a_id").as("doc_id"))
          .union(truth.filter(isBatch(col("b_id")) && !isBatch(col("a_id")))
            .select(col("b_id").as("doc_id")))
          .distinct().withColumn("__bw", lit(true))
        verdicts.join(baseWitness, Seq("doc_id"), "left")
          .agg(count(lit(1)).as("n_batch"),
            sum(when(col("__bw").isNotNull, 1L).otherwise(0L)).as("__nw"),
            sum(when(col("__bw").isNotNull && col("base_match_count") > 0, 1L)
              .otherwise(0L)).as("__nwf"))
          .select(col("n_batch"),
            (col("__nwf") >= col("__nw") * 0.8).as("base_recall_ok"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_batch, TRUE AS base_recall_ok
              FROM documents WHERE doc_id % 5 = 0"""), headline = true),

    Q("search_bm25", // Okapi BM25 top-25 for a 3-term query: map-side tf kernel,
      // single-row stats broadcast, TakeOrderedAndProject top-k — no corpus
      // explode, no shuffle of documents
      (s, d) => Search.bm25TopK(Tables.documents(s, d),
        queryTerms = Seq("vector", "merge", "stream"), k = 25),
      Some(bm25ThreeTermCtes + """
              SELECT doc_id, bm25 FROM sc WHERE bm25 > 0
              ORDER BY bm25 DESC, doc_id LIMIT 25"""), headline = true),

    Q("search_hybrid_rrf", // hybrid retrieval: BM25 top-50 + exact-cosine
      // top-50 (query = embedding of vec 0) fused by Reciprocal Rank Fusion
      // (1/(60+rank) per channel) — the standard no-calibration fusion for
      // lexical + embedding search; both channels are rank-bounded before the
      // dim-sized fusion join
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Search.hybridTopK(Tables.documents(s, d), emb,
          queryTerms = Seq("vector", "merge", "stream"),
          queryVecs = emb.filter(col("vec_id") === 0), k = 10, kRetrieval = 50)
      },
      Some(bm25ThreeTermCtes + """,
              lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
                FROM sc WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT 50),
              e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
              sv AS (SELECT vec_id, round(list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, len(emb)), i -> qe[i] * emb[i])),
                  (acc, x) -> acc + x), 6) AS cosine
                FROM q, e WHERE vec_id != 0),
              vr AS (SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS vec_rank
                FROM sv ORDER BY cosine DESC, vec_id LIMIT 50),
              f AS (SELECT coalesce(l.doc_id, v.vec_id) AS doc_id,
                round(coalesce(1.0 / (60 + l.lex_rank), 0) +
                      coalesce(1.0 / (60 + v.vec_rank), 0), 6) AS rrf,
                l.lex_rank, v.vec_rank
                FROM lex l FULL OUTER JOIN vr v ON l.doc_id = v.vec_id)
              SELECT doc_id, rrf, lex_rank, vec_rank FROM f
              ORDER BY rrf DESC, doc_id LIMIT 10"""), headline = true),

    Q("search_hybrid_rrf_batch", // hybrid retrieval for a query SET: every
      // rank keyed on the logical query_id (lexical via bm25TopKBatch, vector
      // via per-(query, vec) rank + within-query best-rank), so cross-query
      // rank mixing is structurally impossible; query 2 is multi-vector
      // (vecs 1 + 2) to exercise best-rank fusion under the oracle
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        val queries = Seq((1L, "vector merge stream"), (2L, "hash scan filter"))
          .toDF("query_id", "qtext")
        val qv = emb.filter(col("vec_id").isin(0L, 1L, 2L))
          .withColumn("query_id", when(col("vec_id") === 0L, 1L).otherwise(2L))
        Search.hybridTopKBatch(Tables.documents(s, d), emb, queries, qv,
          k = 10, kRetrieval = 50)
      },
      Some(tokensCte + """,
              st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t),
              q AS (SELECT CAST(query_id AS BIGINT) AS query_id, qtext FROM (VALUES
                (1, 'vector merge stream'), (2, 'hash scan filter')) AS q(query_id, qtext)),
              qt AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term FROM q),
              tok AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS term FROM t),
              tfm AS (SELECT doc_id, term, dl, CAST(count(*) AS DOUBLE) AS tf
                FROM tok WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term, dl),
              df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfm GROUP BY term),
              sc AS (SELECT qt.query_id, tfm.doc_id, round(sum(
                  ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) * (tfm.tf * 2.2) /
                  (tfm.tf + 1.2 * (1 - 0.75 + 0.75 * tfm.dl / st.avgdl))), 6) AS bm25
                FROM tfm JOIN df USING (term) JOIN qt USING (term), st
                GROUP BY qt.query_id, tfm.doc_id),
              lex AS (SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS lex_rank
                FROM sc WHERE bm25 > 0 QUALIFY lex_rank <= 50),
              e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              qv AS (SELECT CAST(query_id AS BIGINT) AS query_id, CAST(src AS BIGINT) AS src
                FROM (VALUES (1, 0), (2, 1), (2, 2)) AS v(query_id, src)),
              qe AS (SELECT qv.query_id, qv.src, e.emb AS qemb
                FROM qv JOIN e ON e.vec_id = qv.src),
              sv AS (SELECT qe.query_id, qe.src, e.vec_id,
                  round(list_reduce(list_prepend(0.0,
                    list_transform(generate_series(1, len(e.emb)), i -> qe.qemb[i] * e.emb[i])),
                    (acc, x) -> acc + x), 6) AS cosine
                FROM qe, e WHERE e.vec_id != qe.src),
              vrk AS (SELECT query_id, src, vec_id,
                  row_number() OVER (PARTITION BY query_id, src ORDER BY cosine DESC, vec_id) AS r
                FROM sv QUALIFY r <= 50),
              vr AS (SELECT query_id, vec_id, CAST(min(r) AS BIGINT) AS vec_rank
                FROM vrk GROUP BY query_id, vec_id),
              f AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
                  coalesce(l.doc_id, v.vec_id) AS doc_id,
                  round(coalesce(1.0 / (60 + l.lex_rank), 0) +
                        coalesce(1.0 / (60 + v.vec_rank), 0), 6) AS rrf,
                  CAST(l.lex_rank AS BIGINT) AS lex_rank, v.vec_rank
                FROM lex l FULL OUTER JOIN vr v
                  ON l.query_id = v.query_id AND l.doc_id = v.vec_id)
              SELECT query_id, doc_id, rrf, lex_rank, vec_rank
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY rrf DESC, doc_id) AS rk FROM f)
              WHERE rk <= 10""")),

    Q("search_postings", // inverted-index build, the TWO-PHASE maxDf-bounded
      // form (the scale-safe default): df per term first, postings collected
      // only inside [minDf, maxDf] — no aggregation buffer ever materializes a
      // stop word's corpus-sized list. Postings emitted as a space-joined
      // string so the result is hash-comparable (the driver's comparator
      // cannot sort/factorize array columns).
      (s, d) => Search.invertedIndex(Tables.documents(s, d), minDf = 2, maxDf = 200)
        .withColumn("postings",
          array_join(transform(col("postings"), _.cast("string")), " ")),
      Some(docTermCtes + """,
              g AS (SELECT term, count(*) AS df FROM e GROUP BY term
                HAVING count(*) >= 2 AND count(*) <= 200)
              SELECT term, g.df,
                string_agg(CAST(e.doc_id AS VARCHAR), ' ' ORDER BY e.doc_id) AS postings
              FROM e JOIN g USING (term) GROUP BY term, g.df"""), headline = true),

    Q("search_postings_sharded", // hot-term sharded index: full coverage with
      // every buffer bounded — terms past maxDf split postings by
      // pmod(doc_id, shards); each shard row carries the term's TOTAL df
      (s, d) => Search.invertedIndexSharded(Tables.documents(s, d),
        minDf = 2, maxDf = 150, shards = 4)
        .withColumn("postings",
          array_join(transform(col("postings"), _.cast("string")), " ")),
      Some(docTermCtes + """,
              g AS (SELECT term, count(*) AS df FROM e GROUP BY term
                HAVING count(*) >= 2),
              sh AS (SELECT e.term,
                CAST(CASE WHEN g.df <= 150 THEN 0 ELSE e.doc_id % 4 END AS INTEGER) AS shard,
                g.df, e.doc_id FROM e JOIN g USING (term))
              SELECT term, shard, df,
                string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS postings
              FROM sh GROUP BY term, shard, df""")),

    Q("search_phrase", // exact phrase query over positional postings — the
      // query class a bag-of-words index cannot answer; corpus tokens filter
      // to the phrase vocabulary BEFORE any exchange, so the vote shuffle
      // tracks the terms' df, never corpus size
      (s, d) => Search.phraseSearch(Tables.documents(s, d), Seq("table", "part")),
      Some(tokensCte + """,
              s AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS st, toks
                FROM t)
              SELECT doc_id, count(*) AS n_occurrences FROM s
              WHERE toks[st] = 'table' AND toks[st + 1] = 'part'
              GROUP BY doc_id""")),

    Q("search_proximity", // NEAR operator: docs where the two terms co-occur
      // within 5 token positions, with the min distance; ONE doc-keyed
      // exchange of the matched positions only
      (s, d) => Search.proximitySearch(Tables.documents(s, d),
        "spark", "stream", window = 5),
      Some(tokensCte + """,
              p AS (SELECT doc_id,
                list_filter(generate_series(1, len(toks)), i -> toks[i] = 'spark') AS pa,
                list_filter(generate_series(1, len(toks)), i -> toks[i] = 'stream') AS pb
                FROM t),
              d AS (SELECT doc_id, list_min(flatten(list_transform(pa,
                  x -> list_transform(pb, y -> abs(x - y))))) AS min_dist
                FROM p WHERE len(pa) > 0 AND len(pb) > 0)
              SELECT doc_id, min_dist FROM d WHERE min_dist <= 5""")),

    Q("search_bm25_batch", // BM25 for a query SET in ONE corpus pass (an eval
      // harness's retrieval shape): exploded tokens broadcast-filtered to the
      // query vocabulary, per-query heap top-k — k queries never cost k scans
      (s, d) => {
        import s.implicits._
        val qs = Seq((1L, "vector merge stream"), (2L, "join hash customer"),
          (3L, "scan filter")).toDF("query_id", "qtext")
        Search.bm25TopKBatch(Tables.documents(s, d), qs, k = 10)
      },
      Some(tokensCte + """,
              q(query_id, qtext) AS (VALUES
                (CAST(1 AS BIGINT), 'vector merge stream'),
                (CAST(2 AS BIGINT), 'join hash customer'),
                (CAST(3 AS BIGINT), 'scan filter')),
              qt AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term FROM q),
              st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t),
              e AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                unnest(toks) AS term FROM t),
              tf AS (SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf FROM e
                WHERE term IN (SELECT term FROM qt) GROUP BY term, doc_id, dl),
              dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
              c AS (SELECT qt.query_id, tf.doc_id,
                ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
                  / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS contrib
                FROM tf JOIN dfs USING (term) JOIN qt USING (term), st),
              sc AS (SELECT query_id, doc_id, round(sum(contrib), 6) AS bm25
                FROM c GROUP BY query_id, doc_id HAVING round(sum(contrib), 6) > 0),
              r AS (SELECT query_id, doc_id, bm25,
                row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
                FROM sc)
              SELECT query_id, doc_id, bm25 FROM r WHERE rn <= 10"""), headline = true),

    Q("search_tfidf_weights", // TF-IDF sparse matrix build (smooth idf,
      // sklearn-style): one (term, doc) count agg + df window over the
      // aggregated rows + one-row corpus-count broadcast — the persistable
      // lexical-vector artifact, hash-oracled row for row
      (s, d) => Search.tfidfWeights(Tables.documents(s, d))
        .withColumn("w", round(col("w"), 6)),
      Some(termFreqCtes + """,
              w AS (SELECT term, doc_id, tf,
                CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df, n_docs
                FROM tf, n)
              SELECT term, doc_id, tf, df,
                round(tf * (ln((1 + n_docs) / (1 + df)) + 1), 6) AS w FROM w""")),

    Q("search_domain_keywords", // per-domain TF-IDF keyword signatures
      // (domain = pseudo-document, N = domain count): one (domain, term)
      // agg + term-keyed df window + rank window over each domain's
      // vocab-bounded frame — the data-card "what is this slice about" table
      (s, d) => Search.domainKeywords(Tables.documents(s, d), k = 10),
      Some("""WITH nd AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n_domains
                FROM documents),
              t AS (SELECT source AS domain,
                string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
                FROM documents),
              p AS (SELECT domain, unnest(toks) AS term FROM t),
              tf AS (SELECT domain, term, CAST(count(*) AS DOUBLE) AS tf
                FROM p WHERE len(term) > 0 GROUP BY 1, 2),
              w AS (SELECT domain, term, tf,
                CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df, n_domains
                FROM tf, nd),
              sc AS (SELECT domain, term, tf, df,
                round(tf * (ln((1 + n_domains) / (1 + df)) + 1), 6) AS score FROM w),
              r AS (SELECT *, row_number() OVER (PARTITION BY domain
                ORDER BY score DESC, term) AS rank FROM sc)
              SELECT domain, term, tf, df, score, rank FROM r WHERE rank <= 10""")),

    Q("search_tfidf_topk", // nearest docs to doc 42 by TF-IDF cosine: the
      // query vector and its norm ride broadcasts; ONE doc-keyed agg computes
      // norm and dot together; TakeOrderedAndProject top-k — hash-oracled
      (s, d) => Search.tfidfCosineTopK(
        Search.tfidfWeights(Tables.documents(s, d)), queryDocId = 42, k = 25),
      Some(termFreqCtes + """,
              w AS (SELECT term, doc_id,
                tf * (ln((1 + n_docs) /
                  (1 + CAST(count(*) OVER (PARTITION BY term) AS DOUBLE))) + 1) AS w
                FROM tf, n),
              q AS (SELECT term, w AS qw FROM w WHERE doc_id = 42),
              qn AS (SELECT sum(qw * qw) AS qnorm2 FROM q),
              d AS (SELECT w.doc_id, sum(w.w * w.w) AS norm2,
                sum(coalesce(w.w * q.qw, 0)) AS dot
                FROM w LEFT JOIN q USING (term) WHERE w.doc_id != 42 GROUP BY 1),
              sc AS (SELECT doc_id, round(dot / sqrt(norm2 * qnorm2), 6) AS tfidf_cos
                FROM d, qn)
              SELECT doc_id, tfidf_cos FROM sc WHERE tfidf_cos > 0
              ORDER BY tfidf_cos DESC, doc_id LIMIT 25"""), headline = true))

  // ------------------------------------------------------------------
  // graph analytics — entity importance + label spreading over the
  // customer↔supplier co-purchase graph (operators/Graph.scala)
  // ------------------------------------------------------------------

  /** Label-propagation seeds: every tenth customer, labelled by its nation. */
  private def graphSeedsFor(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_custkey") % 10 === 0)
      .select((col("c_custkey").cast("long") * 2).as("node"),
        col("c_nationkey").as("label"))

  /** Long node id → the public 'c:k' / 's:k' name: the graph runs on
    * LONG node ids end to end — customers map to 2k, suppliers to 2k+1, an
    * injective encoding, so distinct/group/join semantics are identical to
    * the concatenated strings — and every graph shuffle (node distinct,
    * out-weight agg, edge repartition, iters × contribution aggs) carries an
    * 8-byte key instead of a 6–10 char string (guide §2.3 narrower types).
    * Names materialize ONCE, on the |V|-row output. */
  private def graphNodeName(node: Column): Column =
    concat(when(pmod(node, lit(2L)) === 0L, lit("c:")).otherwise(lit("s:")),
      shiftrightunsigned(node, 1).cast("string"))

  /** Bipartite customer↔supplier co-purchase graph: one edge per (customer,
    * supplier) pair linked by at least one order's lineitem, weight = how
    * many lineitems link them, both directions present (undirected graph as
    * a symmetric directed edge list — no dangling nodes by construction;
    * [[graft.operators.Graph.pageRank]] still carries the dangling term).
    * Node ids namespaced `c:`/`s:` so the two key spaces cannot collide. */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    // group on the RAW INTEGER keys and keep the node ids as LONGS all
    // the way through the iteration (see graphNodeName): the entries
    // stringify only the final |V|-row result
    val pairs = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(count(lit(1)).cast("double").as("weight"))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("s"), col("weight"))
    pairs.select(col("c").as("src"), col("s").as("dst"), col("weight"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst"), col("weight")))
  }

  /** The co-purchase graph as DuckDB CTEs shared by the graph oracles. */
  private def coPurchaseEdgesSql(weighted: Boolean): String = {
    val w = if (weighted) "CAST(count(*) AS DOUBLE)" else "1.0"
    s"""WITH eb AS (
    SELECT 'c:' || CAST(o.o_custkey AS VARCHAR) AS c,
           's:' || CAST(l.l_suppkey AS VARCHAR) AS s, $w AS w
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey GROUP BY 1, 2),
  edges AS (SELECT c AS src, s AS dst, w FROM eb UNION ALL SELECT s AS src, c AS dst, w FROM eb)"""
  }

  /** [[graft.operators.Graph.pageRank]] unrolled as chained DuckDB CTEs —
    * one (dg_k, pr_k) pair per power iteration, same dangling-mass term. */
  private def pageRankOracle(weighted: Boolean, iters: Int, damping: Double): String = {
    val sb = new StringBuilder(coPurchaseEdgesSql(weighted))
    sb ++= s""",
  nodes AS (SELECT DISTINCT src AS node FROM edges),
  nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
  outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY src),
  pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    for (k <- 1 to iters) sb ++= s""",
  dg$k AS (SELECT COALESCE(sum(p.rank), 0) AS dang FROM pr${k - 1} p
           WHERE NOT EXISTS (SELECT 1 FROM outw o WHERE o.src = p.node)),
  pr$k AS (SELECT n.node,
      (1 - $damping) / (SELECT n FROM nn) + $damping *
        (COALESCE(c.contrib, 0) + (SELECT dang FROM dg$k) / (SELECT n FROM nn)) AS rank
    FROM nodes n LEFT JOIN (
      SELECT e.dst AS node, sum(p.rank * e.w / o.outw) AS contrib
      FROM edges e JOIN pr${k - 1} p ON e.src = p.node JOIN outw o ON e.src = o.src
      GROUP BY e.dst) c ON n.node = c.node)"""
    sb ++= s"\n  SELECT node, round(rank, 6) AS rank FROM pr$iters"
    sb.toString
  }

  /** [[graft.operators.Graph.labelPropagate]] unrolled — per round a vote
    * count + row_number argmax (cnt desc, label asc), seeds clamped. */
  private def labelPropOracle(iters: Int): String = {
    val sb = new StringBuilder(coPurchaseEdgesSql(weighted = false))
    sb ++= s""",
  seeds AS (SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS node,
            CAST(c_nationkey AS BIGINT) AS label FROM customer WHERE c_custkey % 10 = 0),
  lb0 AS (SELECT node, label FROM seeds)"""
    for (k <- 1 to iters) sb ++= s""",
  v$k AS (SELECT node, label FROM (
      SELECT e.dst AS node, p.label, count(*) AS cnt,
             row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, p.label ASC) AS rn
      FROM edges e JOIN lb${k - 1} p ON e.src = p.node
      GROUP BY e.dst, p.label) WHERE rn = 1),
  lb$k AS (SELECT node, label FROM seeds UNION ALL
            SELECT v.node, v.label FROM v$k v
            WHERE NOT EXISTS (SELECT 1 FROM seeds s WHERE s.node = v.node))"""
    sb ++= s"\n  SELECT node, label FROM lb$iters"
    sb.toString
  }

  private val graphQueries = Seq(
    Q("q_triangle_count", // per-node triangle counts over the co-supplier
      // graph (suppliers sharing an order, 1-in-20 order sample — the full
      // projection is near-complete at sf0.1, every counter's worst case) —
      // the clustering-coefficient numerator; degree-ordered orientation
      // counts each triangle once and bounds wedge generation by O(m^1.5),
      // hub-star immune
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .filter(pmod(col("l_orderkey"), lit(20)) === 0)
          .select(col("l_orderkey"), col("l_suppkey"))
        val e = li.alias("x").join(li.alias("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_suppkey") < col("y.l_suppkey"))
          .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
        graft.operators.Graph.triangleCounts(e)
      },
      Some("""WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem
                WHERE l_orderkey % 20 = 0),
              p AS (SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
                FROM li l1 JOIN li l2 ON l1.l_orderkey = l2.l_orderkey
                  AND l1.l_suppkey < l2.l_suppkey),
              deg AS (SELECT n, count(*) AS d FROM
                (SELECT a AS n FROM p UNION ALL SELECT b AS n FROM p) GROUP BY n),
              o AS (SELECT
                CASE WHEN (ta.d < tb.d) OR (ta.d = tb.d AND a < b) THEN a ELSE b END AS u,
                CASE WHEN (ta.d < tb.d) OR (ta.d = tb.d AND a < b) THEN b ELSE a END AS v
                FROM p JOIN deg ta ON p.a = ta.n JOIN deg tb ON p.b = tb.n),
              tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
                FROM o e1 JOIN o e2 ON e1.v = e2.u
                JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v)
              SELECT node, count(*) AS n_triangles FROM
                (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
                 UNION ALL SELECT z FROM tri) GROUP BY node""")),

    Q("q_pagerank", // entity importance over the co-purchase graph — 5 fixed
      // power iterations, dangling mass redistributed, ranks sum to 1; the
      // site-authority quality prior of a crawl pipeline. Hash-oracled
      // against the same rounds unrolled as DuckDB CTEs.
      (s, d) => graft.operators.Graph.pageRank(coPurchaseEdges(s, d), iters = 5)
        .select(graphNodeName(col("node")).as("node"), round(col("rank"), 6).as("rank")),
      Some(pageRankOracle(weighted = false, iters = 5, damping = 0.85))),

    Q("q_pagerank_weighted", // same iteration, contributions proportional to
      // edge weight (lineitem count) — co-occurrence strength, not mere
      // adjacency, drives importance
      (s, d) => graft.operators.Graph.pageRank(coPurchaseEdges(s, d), iters = 5,
          weightCol = "weight")
        .select(graphNodeName(col("node")).as("node"), round(col("rank"), 6).as("rank")),
      Some(pageRankOracle(weighted = true, iters = 5, damping = 0.85))),

    Q("q_label_propagation", // semi-supervised label spreading: every 10th
      // customer is seeded with its nation; 3 synchronous rounds of
      // most-frequent-neighbor-label (ties -> smallest label, seeds clamped)
      // label the whole graph — the sparse-human-labels -> full-corpus-labels
      // primitive. Skew-immune hash-argmax per node, no window sort.
      (s, d) => graft.operators.Graph.labelPropagate(
        coPurchaseEdges(s, d),
        graphSeedsFor(s, d),
        iters = 3)
        .select(graphNodeName(col("node")).as("node"), col("label")),
      Some(labelPropOracle(iters = 3))))

  // ------------------------------------------------------------------
  // §2.7 streaming — a REAL Structured Streaming query (file source →
  // memory sink) whose settled result is oracle-checked.
  // ------------------------------------------------------------------
  private val streamingQueries = Seq(
    Q("w1_stream_hour_counts",
      (s, d) => StreamingViews.runToMemory(s, s"$d/events.parquet",
        "graft_w1_sink", src => Tables.normalizeEventTs(src)
          .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("cnt"))
          .select(date_format(col("window.start"), "yyyyMMddHH").as("hour_bucket"),
            col("cnt"))),
      Some("""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y%m%d%H') AS hour_bucket,
              count(*) AS cnt FROM events GROUP BY 1"""), headline = true),

    Q("w_stream_heavy_hitters", // streaming HEAVY HITTERS (the update-mode
      // twin of q_heavy_hitters): the STREAM side is the
      // stateful windowed (hour, item) count — the w1 shape keyed by item —
      // and the per-window top-3 ranks the SETTLED aggregate (windows×items
      // rows, never raw events; rank = cnt desc, item asc — the library's
      // standard tie-break). Settled output ≡ the batch windowed top-k, so
      // the DuckDB twin is a real hash gate.
      (s, d) => {
        val settled = StreamingViews.runToMemory(s, s"$d/events.parquet",
          "graft_whh_sink", src => StreamingViews.hourCounts(
            Tables.normalizeEventTs(src).withColumn("ts", col("ts").cast("timestamp")),
            groupCol = "event_type"))
        StreamingViews.topKPerWindow(settled, "hour_bucket", "event_type",
          "cnt", k = 3)
      },
      Some(hourlyTopTypesOracle("event_type")), headline = true),

    Q("w_stream_heavy_hitters_sketch", // the BOUNDED-STATE streaming heavy
      // hitter (unbounded item domains): capacity-bounded Misra-Gries
      // sketches inside flatMapGroupsWithState, state keyed by
      // (window, pmod(xxhash64(item), 4)) so a window's events spread over
      // 4 tasks instead of funneling the hot current-hour key through one
      // — state is windows × shards × capacity whatever the
      // stream carries — settled by the max-n_updates emission per sketch
      // (the streamFunnel argmax discipline) and ranked read-side. Item-
      // deterministic sharding keeps each item's counts in ONE shard, and
      // capacity 64 exceeds any shard's event_type domain, so no decrement
      // fires and the settled shard union is EXACT: the same oracle as the
      // exact-count twin gates the whole sharded sketch path.
      (s, d) => {
        val emissions = StreamingViews.runToMemory(s, s"$d/events.parquet",
          "graft_whhs_sink", src => StreamingViews.streamHeavyHittersSketch(
            Tables.normalizeEventTs(src).withColumn("ts", col("ts").cast("timestamp")),
            itemCol = "event_type", capacity = 64, shards = 4),
          outputMode = "update")
        StreamingViews.topKPerWindow(
          StreamingViews.settleSketch(emissions).withColumnRenamed("est_count", "cnt"),
          "hour_bucket", "item", "cnt", k = 3)
      },
      Some(hourlyTopTypesOracle("item")), headline = true),

    Q("w_stream_image_clusters", // visual dedup on a LIVE stream: the
      // map-only decode+dHash runs stateless; the cluster group-by is the
      // one stateful op (complete mode, state = distinct hashes — bounded
      // by distinct IMAGES, not corpus size). Settled output must equal the
      // batch clusters — the dedup_image_clusters oracle gates the whole
      // streaming path.
      (s, d) => StreamingViews.runToMemory(s, s"$d/documents.parquet",
        "graft_wimg_sink", src => Multimodal.imageDupClusters(s,
          Multimodal.syntheticCloneJpegsFromDocuments(s, src, classes = 100).toDF())),
      Some(dHashCtes("doc_id % 100") + dHashClusterSelect), headline = true),

    Q("w_stream_image_matches", // the stream-static near-dup gate family's
      // IMAGE edition (minhash / winnow / cosine now have a visual sibling):
      // arriving images decode + dHash map-only and probe the PERSISTED
      // band index read back from disk; unlike the text/vector gates the
      // index rows carry the full hash, so the exact Hamming verify runs
      // in-stream and the flagged stream has no banding false positives.
      // The only streaming state is the media-keyed settle. The oracle
      // recomputes the settled matched set — each flagged image once, with
      // its hash — arithmetically.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_img_idx_ws_${math.abs(d.hashCode)}"
        Multimodal.writeImageDedupIndex(
          Multimodal.imageDHash(s, Multimodal.syntheticCloneJpegsFromDocuments(s,
            docs.filter(col("doc_id") % 20 =!= 0), classes = 100).toDF()).toDF(),
          path, "graft_img_idx_ws", buckets = 4)
        val idx = graft.sources.Lake.readBucketedVerified(s, path,
          "graft_img_idx_ws", "bkey", 4).localCheckpoint(true)
        StreamingViews.runToMemory(s, s"$d/documents.parquet",
          "graft_wimgm_sink", src => StreamingViews.streamImageBaseMatches(
            Multimodal.syntheticCloneJpegsFromDocuments(s,
              src.filter(col("doc_id") % 20 === 0), classes = 100).toDF(),
            idx, unboundedStateOk = true),
          outputMode = "append")
      },
      Some(dHashCtes("doc_id % 100") + dHashIndexMatchSelect)),

    Q("w_stream_anomalies", // streaming counter anomalies: live hourly counts
      // per type flagged against a frozen batch-fit baseline (stream-static
      // broadcast enrich BEFORE the agg — stateless; only count state).
      // Settled output ≡ the batch twin on the same baseline → hash-oracled
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("cnt"))
        val baseline = hourly.groupBy("event_type")
          .agg(round(avg(col("cnt")), 6).as("mu"),
            round(stddev_samp(col("cnt")), 6).as("sd"))
        StreamingViews.runToMemory(s, s"$d/events.parquet", "graft_wanom_sink",
          src => StreamingViews.streamHourlyAnomalies(
            Tables.normalizeEventTs(src), baseline, zThreshold = 2.0))
      },
      Some("""WITH h AS (SELECT event_type,
                date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, count(*) AS cnt
                FROM events GROUP BY 1, 2),
              b AS (SELECT event_type, round(avg(cnt), 6) AS mu,
                round(stddev_samp(cnt), 6) AS sd FROM h GROUP BY 1),
              z AS (SELECT h.event_type, hour, cnt, mu, sd,
                CASE WHEN sd > 0 THEN round((cnt - mu) / sd, 6) END AS zscore
                FROM h JOIN b USING (event_type))
              SELECT event_type, hour, cnt, mu, sd, zscore,
                coalesce(abs(zscore) >= 2.0, false) AS is_anomaly FROM z""")),

    Q("w_queue_stream_counts", // the reference's FULL S1 lifecycle as one stream:
      // queue-framed bytes -> full-schema decode -> watermarked windowed view
      (s, d) => StreamingViews.runToMemory(s, s"$d/events.parquet",
        "graft_wq_sink", src => StreamingViews.hourCounts(
          QueueIngest.decodeFrames(QueueIngest.encodeFrames(Tables.normalizeEventTs(src)))
            .withColumn("ts", col("ts").cast("timestamp")))),
      Some(hourTypeCountsOracle)),

    Q("w2_stream_bucket_counts", // A2 as a real streaming query (counter table parity)
      (s, d) => StreamingViews.runToMemory(s, s"$d/events.parquet",
        "graft_w2_sink", src => StreamingViews.bucketCounts(
          // watermarks require TIMESTAMP (tz-aware); equal to ntz under UTC session
          Tables.normalizeEventTs(src).withColumn("ts", col("ts").cast("timestamp")))),
      Some(bucketCountsOracle)),

    Q("w_sliding_window", // sliding windows — absent from the reference (tumbling only)
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("cnt"))
        .select(date_format(col("window.start"), "yyyyMMddHHmm").as("window_start"),
          col("cnt")),
      Some("""WITH w AS (
              SELECT time_bucket(INTERVAL 5 MINUTES, CAST(ts AS TIMESTAMP)) AS wstart FROM events
              UNION ALL
              SELECT time_bucket(INTERVAL 5 MINUTES, CAST(ts AS TIMESTAMP)) - INTERVAL 5 MINUTES
              FROM events)
              SELECT strftime(wstart, '%Y%m%d%H%M') AS window_start, count(*) AS cnt
              FROM w GROUP BY 1""")),

    Q("w_session_window", // session windows — absent from the reference
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n")),
      // strictly-greater break: session_window still MERGES an event exactly
      // `gap` after the previous one (verified against the streaming sessionizer)
      Some("""WITH o AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
                  CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                         OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                            > INTERVAL 30 MINUTES
                       THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))),
              s AS (
                SELECT user_id, t,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM o)
              SELECT user_id, strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
                count(*) AS n
              FROM s GROUP BY user_id, sid""")),

    Q("w_stream_stream_join", // stream-stream interval join (view → purchase attribution)
      (s, d) => StreamingViews.runToMemory(s, s"$d/events.parquet",
        "graft_wssj_sink", src => StreamingViews.streamStreamJoin(
          Tables.normalizeEventTs(src).withColumn("ts", col("ts").cast("timestamp"))),
        outputMode = "append"),
      Some("""SELECT a.user_id AS user_id, a.event_id AS l_event_id, b.event_id AS r_event_id
              FROM events a JOIN events b ON a.user_id = b.user_id
               AND a.event_type = 'view' AND b.event_type = 'purchase'
               AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
               AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 30 MINUTES""")),

    Q("w_stream_approx_distinct_bounds", // streaming approximate distinct
      // users per hour: state per bucket is ONE HLL++ sketch, not a user set
      // (novel-id floods cannot grow state); settled estimates gated against
      // the batch exact count, exact+boolean hash-oracled (the streaming
      // sibling of q_approx_distinct_bounds)
      (s, d) => {
        val streamed = StreamingViews.runToMemory(s, s"$d/events.parquet",
          "graft_wad_sink", src => StreamingViews.hourlyApproxDistinct(
            Tables.normalizeEventTs(src)))
        val exact = Tables.events(s, d)
          .groupBy(date_format(date_trunc("hour", col("ts")), "yyyyMMddHH")
            .as("hour_bucket"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        streamed.join(exact, "hour_bucket")
          .select(col("hour_bucket"), col("exact_users"),
            // ±15% with an absolute floor of 2: at the fixture's tiny per-hour
            // cardinalities (~11 users) a relative-only gate is tighter than
            // the sketch's own small-range guarantee
            (abs(col("est") - col("exact_users")) <=
              greatest(col("exact_users") * 0.15, lit(2.0))).as("within_bounds"))
      },
      Some("""SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y%m%d%H') AS hour_bucket,
              count(DISTINCT user_id) AS exact_users, TRUE AS within_bounds
              FROM events GROUP BY 1""")),

    Q("w_stream_funnel", // W6 custom-state streaming funnel: per-user stage
      // progress via mapGroupsWithState with a horizon-pruned later-stage
      // buffer — batch-equivalent under ANY arrival order (late stage-1
      // events can demote; the chain recomputes from state). Settled by the
      // max-n_updates emission per user, then hash-oracled against the batch
      // funnel's per-user verdicts
      (s, d) => {
        val settled = StreamingViews.runToMemory(s, s"$d/events.parquet",
          "graft_wfun_sink", src => StreamingViews.streamFunnel(
            Tables.normalizeEventTs(src), Seq("signup", "view", "purchase"),
            maxSpanHours = 168), outputMode = "update")
        Ops.latestPerKey(settled, Seq("user_id"), Seq(col("n_updates")))
          .filter(col("stage_reached") >= 1)
          .select(col("user_id"), col("stage_reached"))
      },
      Some(funnelCtes + """
              SELECT s1.user_id,
                CASE WHEN s3.user_id IS NOT NULL THEN 3
                     WHEN s2.user_id IS NOT NULL THEN 2
                     ELSE 1 END AS stage_reached
              FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
              LEFT JOIN s3 ON s1.user_id = s3.user_id""")),

    Q("w6_stream_lww", // stateful mapGroupsWithState LWW through a real stream
      (s, d) => {
        val settled = StreamingViews.runToMemory(s, s"$d/events.parquet",
          "graft_w6_sink", src => StreamingViews.latestPerKeyStateful(
            Tables.normalizeEventTs(src)), outputMode = "update")
        // update-mode sink appends every batch's winner; the true LWW is the
        // greatest emission per key (monotone state)
        Ops.latestPerKey(settled, Seq("user_id"),
          Seq(col("ts_micros"), col("event_id")))
      },
      Some("""SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_micros, event_id
              FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn FROM events)
              WHERE rn = 1""")))

  private val all: Seq[Q] =
    scanQueries ++ viewQueries ++ relationalQueries ++ pipelineQueries ++
      searchQueries ++ graphQueries ++ streamingQueries

  private val duplicateNames = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
  require(duplicateNames.isEmpty,
    s"duplicate SparkEntry query names: ${duplicateNames.toSeq.sorted.mkString(", ")}")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables, exactly as written. Omitted for
    * non-SQL-expressible ops (engine-specific hashes/sketches) → rows-only
    * check. */
  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The entries `Bench` reports on its stdout line, in registry order: a
    * subset, so the line stays short enough for a tail capture to parse (a
    * 75-entry line was truncated); the complete sweep over every entry goes
    * to `bench_full.json`. */
  val headline: Seq[String] = all.filter(_.headline).map(_.name)
}
