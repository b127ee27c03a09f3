package graft

/** The DuckDB oracles behind `SparkEntry.oracleSql`: for each query SQL
  * can express, equivalent SQL that DuckDB runs on the same parquet
  * tables; the correctness gate needs the results to match exactly.
  *
  * Every CTE chain or formula that more than one oracle uses is a named
  * fragment below, written once; an oracle is its own text and its
  * fragments joined with `+`, so no oracle can drift from a chain it
  * shares. A fragment named `aToB` spans the CTEs `a` through `b`;
  * where two span the same CTEs, `Open` marks the one that stops inside
  * its last CTE and `Last` the one that closes the WITH list. Fragments
  * keep the exact bytes, indentation included, of the oracles that use
  * them.
  *
  * Compose with plain `"""` literals and `+`, never `s"""`: the
  * interpolator processes escapes, and DuckDB's `'$.k'` would need `$$`.
  * OracleHashSpec pins the sha256 of every oracle. */
private[graft] object Oracles {
  private val qualityLengthTerm = """0.4 * least(1.0, len(string_split(text,' ')) / 50.0)"""

  private val qualityScore = """
           """ + qualityLengthTerm + """ +
           0.3 * (len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) /
                  CAST(len(string_split(text,' ')) AS DOUBLE)) +
           0.3 * (1.0 - length(regexp_replace(text, '[a-z ]', '', 'g')) /
                  CAST(greatest(length(text), 1) AS DOUBLE)), 6) AS quality"""

  private val entropyMicroNatTerm = """CAST(floor(ln(k) * 1000000 + 0.5) AS BIGINT)"""

  private val classMeanVal = """round(sum(val) / count(*), 6) AS val"""

  private val sqAdot = """
             CAST(list_reduce(list_transform(range(1, len(a.q)+1), i -> a.q[i]*b.q[i]),
               (x,y) -> x+y) AS DOUBLE) * a.scale * b.scale AS adot"""

  private val minhashBandKey = """array_to_string(s[b*4+1:b*4+4], ':') AS key"""

  // Hamming-1 probing of a 4-bit bucket: itself and its four one-bit flips
  private val lshProbeMasks = """unnest([0, 1, 2, 4, 8]) AS fl"""

  private val lshProbeMasksIdx = lshProbeMasks + """,
               unnest([0, 1, 2, 3, 4]) AS idx"""

  private val bigramDToBg = """WITH d AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         z AS (SELECT doc_id, unnest(list_zip(s, s[2:])) AS p FROM d),
         bg AS (SELECT doc_id, p[1] AS a, p[2] AS b FROM z WHERE p[2] IS NOT NULL),"""

  private val bigramDToCa = bigramDToBg + """
         pd AS (SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS k
           FROM bg GROUP BY doc_id, a, b),
         cb AS (SELECT a, b, CAST(sum(k) AS BIGINT) AS cb FROM pd GROUP BY a, b),
         ca AS (SELECT a, CAST(sum(cb) AS BIGINT) AS ca FROM cb GROUP BY a),"""

  private val bm25DlToIdxOpen = """
           SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY doc_id, token),
         dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         dfs AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM terms GROUP BY token),
         idx AS (SELECT t.doc_id, t.token, t.tf, dl.dl,
             CAST(floor(ln((CAST(nd.n_docs AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
               * 1000000 + 0.5) AS BIGINT) AS idf6,
             CAST(nd.sum_dl AS DOUBLE) / nd.n_docs AS avgdl
           FROM terms t JOIN dfs d ON d.token = t.token"""

  private val bm25DlToIdx = bm25DlToIdxOpen + """
           JOIN dl ON dl.doc_id = t.doc_id, nd),"""

  private val bm25DlToQ = bm25DlToIdx + """
         q AS (SELECT DISTINCT doc_id AS q_id, token FROM terms"""

  private val bm25HitToRk = """
         hit AS (SELECT q.q_id, i.doc_id,
             CAST(floor(i.idf6 * ((i.tf * 2.2::DOUBLE) /
               (i.tf + 1.2::DOUBLE * (0.25 + 0.75::DOUBLE * i.dl / i.avgdl)))
               + 0.5) AS BIGINT) AS c6
           FROM q JOIN idx i ON i.token = q.token AND i.doc_id <> q.q_id
           WHERE i.idf6 > 0),
         sc AS (SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_hit,
             CAST(sum(c6) AS BIGINT) AS s6
           FROM hit GROUP BY q_id, doc_id),
         rk AS (SELECT q_id, doc_id, n_hit, s6, row_number() OVER ("""

  // DuckDB zips the two parallel unnests positionally (same length)
  private val phraseTToIdx = """WITH t AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         idx AS (SELECT doc_id, unnest(range(1, len(s) + 1)) AS pos,
             unnest(s) AS token FROM t)"""

  private val langidScores = """
           len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS s_en,
           len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist'))) AS s_de,
           len(list_filter(string_split(text,' '), x -> x IN ('el','la','los','que','es'))) AS s_es,
           len(list_filter(string_split(text,' '), x -> x IN ('le','les','des','et','est'))) AS s_fr,
           len(list_filter(string_split(text,' '), x -> x IN ('的','是','了','在','和'))) AS s_zh
           FROM documents)"""

  private val langidPred = """
           CASE WHEN s_en > 0 AND s_en >= s_en AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_de AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de AND s_es >= s_es AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_fr AND s_fr >= s_zh THEN 'fr'
                WHEN s_zh > 0 AND s_zh >= s_en AND s_zh >= s_de AND s_zh >= s_es AND s_zh >= s_fr AND s_zh >= s_zh THEN 'zh'
                ELSE 'und' END AS lang_pred"""

  private val tfidfTermsToNd = """WITH terms AS (
           SELECT doc_id, token, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY doc_id, token),
         dfs AS (SELECT token, count(DISTINCT doc_id) AS df FROM terms GROUP BY token),
         nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)"""

  private val tfidfScore = """round(t.tf * ln(nd.n_docs / CAST(d.df AS DOUBLE)), 6) AS tfidf"""

  private val kfoldBalance = """
         SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           round(CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
             AS mean_chars"""

  private val temperatureWeight = """round(power(CAST(n_min AS DOUBLE) / n_docs, 0.5), 6)"""

  private val qualityScoreFromDocs = qualityScore + """
           FROM documents),"""

  private val minhashShingleHash = """s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs"""

  private val minhashPermutation = """((((1103515245*(i+1) + 12345) % 2147483646) + 1)*h + (1103515245*(i+17) + 54321) % 2147483647) % 2147483647"""

  private val minhashSig = """
             list_distinct(list_transform(range(len(t) - 2),
               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])),
             """ + minhashShingleHash + """
           FROM tk WHERE len(t) >= 3),
         sig AS (SELECT doc_id, list_transform(range(16),
             i -> list_min(list_transform(hs, h -> """ + minhashPermutation + """))) AS s"""

  private val minhashTkToSig = """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         t AS (SELECT doc_id, list_transform(""" + minhashSig + """
           FROM t),"""

  private val minhashRepToCp = """
         rep AS (SELECT s, min(doc_id) AS rep FROM sig GROUP BY s),
         stars AS (SELECT r.rep AS doc_a, g.doc_id AS doc_b
           FROM sig g JOIN rep r ON g.s = r.s WHERE g.doc_id <> r.rep),
         band AS (SELECT rep, b, """ + minhashBandKey + """
           FROM rep, (SELECT unnest(range(4)) AS b)),
         cp AS (SELECT DISTINCT x.rep AS doc_a, y.rep AS doc_b"""

  private val minhashTkToCpOpen = minhashTkToSig + minhashRepToCp

  private val minhashTkToCp = minhashTkToCpOpen + """
           FROM band x JOIN band y ON x.b = y.b AND x.key = y.key AND x.rep < y.rep),"""

  private val clusterL1ToL3 = """
         l1 AS (SELECT l.doc_id,
             least(l.cluster, coalesce(m.nmin, l.cluster)) AS cluster
           FROM l0 l LEFT JOIN (SELECT e.src AS doc_id, min(x.cluster) AS nmin
             FROM e JOIN l0 x ON x.doc_id = e.dst GROUP BY e.src) m
           ON m.doc_id = l.doc_id),
         l2 AS (SELECT l.doc_id,
             least(l.cluster, coalesce(m.nmin, l.cluster)) AS cluster
           FROM l1 l LEFT JOIN (SELECT e.src AS doc_id, min(x.cluster) AS nmin
             FROM e JOIN l1 x ON x.doc_id = e.dst GROUP BY e.src) m
           ON m.doc_id = l.doc_id),
         l3 AS (SELECT l.doc_id,
             least(l.cluster, coalesce(m.nmin, l.cluster)) AS cluster
           FROM l2 l LEFT JOIN (SELECT e.src AS doc_id, min(x.cluster) AS nmin
             FROM e JOIN l2 x ON x.doc_id = e.dst GROUP BY e.src) m"""

  private val clusterTkToL3Open = minhashTkToCp + """
         p AS (SELECT doc_a, doc_b FROM stars UNION ALL SELECT doc_a, doc_b FROM cp),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p),
         l0 AS (SELECT doc_id, doc_id AS cluster FROM documents),""" + clusterL1ToL3

  private val clusterTkToL3Last = clusterTkToL3Open + """
           ON m.doc_id = l.doc_id)"""

  private val clusterTkToL3 = clusterTkToL3Open + """
           ON m.doc_id = l.doc_id),"""

  private val minhashTkToBd = minhashTkToSig + """
         bd AS (SELECT doc_id, b, """ + minhashBandKey

  private val bloomIdxToBits = """WITH idx AS (SELECT DISTINCT md5(text) AS fp FROM documents
           WHERE doc_id >= 100),
         bits AS (SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || fp), 1, 15))
               AS BIGINT) % 4096 AS bit
           FROM idx CROSS JOIN (SELECT unnest(range(4)) AS i) ii)"""

  private val spanTkToSp = """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sp AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 7),
             i -> CAST(('0x' || substr(md5(array_to_string(t[i+1:i+8], ' ')), 1, 15)) AS BIGINT)))) AS sh
           FROM tk WHERE len(t) >= 8),"""

  private val decontamTkToInv = """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
           FROM tk WHERE len(t) >= 3),
         inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),"""

  private val ngramShToHot = """
         sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
           FROM tk WHERE len(t) >= 3),
         inv0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         hot AS (SELECT shingle FROM inv0, nd GROUP BY shingle, n_docs
           HAVING count(*) * 5 > n_docs AND count(*) > 25),"""

  private val ngramShToInter = ngramShToHot + """
         inv AS (SELECT * FROM inv0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
         cnt AS (SELECT doc_id, count(*) AS ns FROM inv GROUP BY doc_id),
         inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
           FROM inv x JOIN inv y ON x.shingle = y.shingle AND x.doc_id < y.doc_id"""

  private val ngramTkToInter = """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),""" + ngramShToInter

  private val ngramTkToHot = """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),""" + ngramShToHot

  private val bandCntToCaught = """
         cnt AS (SELECT doc_id, count(*) AS ns FROM inv GROUP BY doc_id),
         inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
           FROM inv x JOIN inv y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
           GROUP BY x.doc_id, y.doc_id),
         exf AS (SELECT doc_a, doc_b,
             round(n_inter / CAST(ca.ns + cb.ns - n_inter AS DOUBLE), 6) AS jaccard
           FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b),
         th AS (SELECT doc_id, list_transform(""" + minhashSig + """
           FROM th),
         bd AS (SELECT doc_id, b, """ + minhashBandKey + """
           FROM sig, (SELECT unnest(range(4)) AS b)),
         caught AS (SELECT DISTINCT e.doc_a, e.doc_b FROM exf e
           JOIN bd x ON x.doc_id = e.doc_a
           JOIN bd y ON y.doc_id = e.doc_b AND y.b = x.b AND y.key = x.key)
         SELECT least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS decile,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_caught,
           round(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS recall
         FROM exf LEFT JOIN caught c ON c.doc_a = exf.doc_a AND c.doc_b = exf.doc_b
         GROUP BY 1"""

  private val embeddingsE = """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),"""

  private val embeddingEToN = embeddingsE + """
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),"""

  private val mipsHyperplane = """(CAST((1103515245::BIGINT * ((tt*4 + j)*65 + d) + 12345) % 2147483648 AS DOUBLE)"""

  // the LSH candidate pairs and the head of their dot-product scoring
  private val lshCandToSOpen = """
         cand AS (SELECT DISTINCT q.vec_id AS q_id, t.vec_id AS n_id
           FROM qp q JOIN bb t ON q.tt = t.tt AND q.bucket = t.bucket
             AND t.vec_id <> q.vec_id),
         s AS (SELECT c.q_id, c.n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),"""

  private val mipsEToR = embeddingEToN + """
         mm AS (SELECT max(nrm) AS m FROM n),
         da AS (SELECT vec_id,
             list_append(v, sqrt(greatest(0.0, mm.m*mm.m - nrm*nrm))) AS av
           FROM n, mm),
         qa AS (SELECT vec_id, list_append(v, 0.0) AS av FROM n WHERE vec_id < 20),
         bb AS (SELECT vec_id, tt,
             list_reduce(list_transform(range(4), j -> CASE WHEN
               list_reduce(list_transform(range(65), d -> av[d+1] *
                 """ + mipsHyperplane + """
                    / 2147483648.0 - 0.5)), (x,y) -> x+y) > 0
               THEN (1 << j) ELSE 0 END), (x,y) -> x+y) AS bucket
           FROM da, (SELECT unnest(range(8)) AS tt)),
         qb AS (SELECT vec_id, tt,
             list_reduce(list_transform(range(4), j -> CASE WHEN
               list_reduce(list_transform(range(65), d -> av[d+1] *
                 """ + mipsHyperplane + """
                    / 2147483648.0 - 0.5)), (x,y) -> x+y) > 0
               THEN (1 << j) ELSE 0 END), (x,y) -> x+y) AS bucket
           FROM qa, (SELECT unnest(range(8)) AS tt)),
         qp AS (SELECT vec_id, tt, xor(bucket, fl) AS bucket
           FROM qb, (SELECT """ + lshProbeMasks + """)),""" + lshCandToSOpen + """
               (x,y) -> x+y) AS dp
           FROM cand c JOIN e q ON q.vec_id = c.q_id JOIN e t ON t.vec_id = c.n_id),
         r AS (SELECT q_id, n_id, dp, row_number() OVER (PARTITION BY q_id"""

  private val mipsBruteDp = """
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) AS dp
           FROM e q, e t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id)"""

  private val mipsSbToOvOpen = """
         sb AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,""" + mipsBruteDp + """,
         rb AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY dp DESC, n_id) AS rank FROM sb),
         ov AS (SELECT b.q_id, b.n_id,
             CASE WHEN l.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit"""

  private val lshHyperplane = """(CAST((1103515245::BIGINT * ((tt*4 + j)*64 + d) + 12345) % 2147483648 AS DOUBLE)"""

  private val filteredBb = """
         bb AS (SELECT vec_id, label, tt,
             list_reduce(list_transform(range(4), j -> CASE WHEN
               list_reduce(list_transform(range(64), d -> v[d+1] *
                 """ + lshHyperplane + """
                    / 2147483648.0 - 0.5)), (x,y) -> x+y) > 0
               THEN (1 << j) ELSE 0 END), (x,y) -> x+y) AS bucket
           FROM n, (SELECT unnest(range(8)) AS tt)),"""

  private val filteredNToBb = """
         n AS (SELECT vec_id, label, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),""" +
    filteredBb

  private val filteredNToQp = filteredNToBb + """
         qp AS (SELECT vec_id, label, tt, xor(bucket, fl) AS bucket"""

  private val filteredCandToROpen = """
         cand AS (SELECT DISTINCT q.vec_id AS q_id, t.vec_id AS n_id
           FROM qp q JOIN bb t ON q.tt = t.tt AND q.bucket = t.bucket
             AND q.label = t.label AND t.vec_id <> q.vec_id),
         s AS (SELECT c.q_id, c.n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM cand c JOIN n q ON q.vec_id = c.q_id JOIN n t ON t.vec_id = c.n_id),
         r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id"""

  private val filteredCandToTop3 = filteredCandToROpen + """
             ORDER BY cos DESC, n_id) AS rank FROM s)
         SELECT q_id, n_id, round(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3"""

  private val filteredNToXs = """
         n AS (SELECT vec_id, label, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),
         xs AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n q JOIN n t ON t.label = q.label AND t.vec_id <> q.vec_id"""

  private val filteredEToXr = """WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),""" + filteredNToXs + """
           WHERE q.vec_id < 20),
         xr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM xs),"""

  private val filteredExactToBb = """
         exact AS (SELECT q_id, n_id FROM xr WHERE rank <= 3),""" + filteredBb

  private val filteredEToBb = filteredEToXr + filteredExactToBb

  private val filteredCandToR = filteredCandToROpen + """
             ORDER BY cos DESC, n_id) AS rank FROM s),"""

  private val filteredCandToApprox = filteredCandToR + """
         approx AS (SELECT q_id, n_id, 1 AS hit FROM r WHERE rank <= 3)
         SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS n_hits,
           round(CAST(sum(coalesce(a.hit, 0)) AS DOUBLE) /
             CAST(count(*) AS DOUBLE), 4) AS recall
         FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
         GROUP BY e.q_id"""

  private val filteredExactToQp = """
         exact AS (SELECT q_id, n_id, rank FROM xr WHERE rank <= 3),""" + filteredBb + """
         qp AS (SELECT vec_id, label, tt, xor(bucket, fl) AS bucket"""

  private val filteredCandToRankedApprox = filteredCandToR + """
         approx AS (SELECT q_id, n_id, rank FROM r WHERE rank <= 3)
         SELECT e.q_id, CAST(count(a.rank) AS BIGINT) AS n_hits,
           round(CAST(sum(CASE WHEN a.rank IS NOT NULL THEN 4 - e.rank
             ELSE 0 END) AS DOUBLE) / CAST(sum(4 - e.rank) AS DOUBLE), 4)
             AS graded_recall,
           round(coalesce(1::DOUBLE / min(a.rank), 0::DOUBLE), 6) AS mrr
         FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
         GROUP BY e.q_id"""

  private val filteredNToG = filteredNToBb + """
         g AS (SELECT tt, label, bucket, CAST(count(*) AS BIGINT) AS n
           FROM bb GROUP BY 1, 2, 3)
         SELECT tt AS tbl, label, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_vecs, max(n) AS max_load,
           round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS mean_load
         FROM g GROUP BY tt, label"""

  private val mediaStubEmbedding = """CAST(ord(text[(i * 7) % length(text) + 1]) AS DOUBLE) / 255.0"""

  private val mediaE0ToE = """WITH e0 AS (SELECT doc_id AS vec_id,
             list_transform(range(64), i -> CASE WHEN length(text) = 0 THEN 0.0
               ELSE """ + mediaStubEmbedding + """ END) AS v
           FROM documents),
         e AS (SELECT vec_id,
             list_transform(v, x -> floor(x * 1048576 + 0.5) / 1048576.0) AS v
           FROM e0),"""

  private val ivfArgmaxCosine = """list_reduce(list_transform(range(1, len(k.cv)+1), i -> k.cv[i]*t.v[i]),
                   (x,y) -> x+y) / (k.cn * t.nrm) DESC, k.c_id) AS ar"""

  private val ivfC0ToA1 = """
         c0 AS (SELECT vec_id AS c_id, v AS cv FROM n WHERE vec_id < 8),
         k0 AS (SELECT c_id, cv,
             sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y)) AS cn FROM c0),
         r1 AS (SELECT t.vec_id, t.v, k.c_id,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                 """ + ivfArgmaxCosine + """
             FROM n t, k0 k),
         a1 AS (SELECT vec_id, v, c_id AS cell FROM r1 WHERE ar = 1),"""

  private val ivfU1ToA2 = """
         u1 AS (SELECT cell, list(round(s / cnt, 6) ORDER BY pos) AS cv FROM s1 GROUP BY cell),
         c1 AS (SELECT c0.c_id, coalesce(u1.cv, c0.cv) AS cv
             FROM c0 LEFT JOIN u1 ON u1.cell = c0.c_id),
         k1 AS (SELECT c_id, cv,
             sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y)) AS cn FROM c1),
         r2 AS (SELECT t.vec_id, t.v, k.c_id,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                 """ + ivfArgmaxCosine + """
             FROM n t, k1 k),
         a2 AS (SELECT vec_id, v, c_id AS cell FROM r2 WHERE ar = 1),"""

  private val ivfNToC2 = """
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),""" +
    ivfC0ToA1 + """
         d1 AS (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM a1),
         s1 AS (SELECT cell, pos, sum(val) AS s, count(*) AS cnt FROM d1 GROUP BY cell, pos),""" +
    ivfU1ToA2 + """
         d2 AS (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM a2),
         s2 AS (SELECT cell, pos, sum(val) AS s, count(*) AS cnt FROM d2 GROUP BY cell, pos),
         u2 AS (SELECT cell, list(round(s / cnt, 6) ORDER BY pos) AS cv FROM s2 GROUP BY cell),
         c2 AS (SELECT c1.c_id, coalesce(u2.cv, c1.cv) AS cv"""

  private val ivfNToK2 = ivfNToC2 + """
             FROM c1 LEFT JOIN u2 ON u2.cell = c1.c_id),
         k2 AS (SELECT c_id, cv,
             sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y)) AS cn FROM c2),"""

  private val ivfNToRk = ivfNToK2 + """
         rk AS (SELECT t.vec_id, t.v, t.nrm, k.c_id,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                 """ + ivfArgmaxCosine

  private val sqScaleToQqLast = """
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
         qq AS (SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(least(greatest(
                    floor(x / scale + 0.5), -127.0), 127.0) AS BIGINT)) END AS q
           FROM sc)"""

  private val sqScaleToQq = sqScaleToQqLast + ","

  private val ivfsqSearchChain = ivfNToRk + """
             FROM n t, k2 k),
         asg AS (SELECT vec_id, v, nrm, c_id AS cell FROM rk WHERE ar = 1),
         prb AS (SELECT vec_id AS q_id, c_id AS cell FROM rk
           WHERE ar <= 4 AND vec_id < 20),
                  sc AS (SELECT vec_id, v,""" + sqScaleToQq + """
         cnd AS (SELECT p.q_id, t.vec_id AS n_id, t.cell
           FROM asg t JOIN prb p ON t.cell = p.cell AND t.vec_id <> p.q_id),
         sq AS (SELECT c.q_id, c.n_id, c.cell,""" + sqAdot + """
           FROM cnd c JOIN qq a ON a.vec_id = c.q_id JOIN qq b ON b.vec_id = c.n_id),
         rr AS (SELECT q_id, n_id, cell, adot, row_number() OVER (PARTITION BY q_id
             ORDER BY adot DESC, n_id) AS rank FROM sq)
         SELECT q_id, n_id, cell, round(adot, 6) AS adot, CAST(rank AS INTEGER) AS rank
         FROM rr WHERE rank <= 3"""

  private val ivfNToRkOpen = ivfNToK2 + """
         rk AS (SELECT t.vec_id, k.c_id,"""

  private val ivfRkArgmax = """
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                 """ + ivfArgmaxCosine + """
             FROM n t, k2 k),"""

  private val ivfNToAsg = ivfNToRkOpen + ivfRkArgmax + """
         asg AS (SELECT vec_id, c_id AS cell FROM rk WHERE ar = 1),"""

  private val dyadicResidualSnap = """floor((e.v[i+1] - k.cv[i+1]) * 1048576::DOUBLE + 0.5) / 1048576::DOUBLE"""

  private val ivfProbePbrToPb = """
         pbr AS (SELECT t.vec_id, k.c_id,
             row_number() OVER (PARTITION BY t.vec_id ORDER BY
               list_reduce(list_transform(range(1, len(k.cv)+1), i -> k.cv[i]*t.v[i]),
                 (x,y) -> x+y) / (k.cn * t.nrm) DESC, k.c_id) AS ar
           FROM n t, k2 k WHERE t.vec_id < 20),
         pb AS (SELECT vec_id AS q_id, c_id AS cell FROM pbr WHERE ar <= 2),"""

  private val residualRivfc = """rivfc AS (SELECT p.q_id, p.cell, a.vec_id FROM asg a JOIN pb p ON a.cell = p.cell
           AND a.vec_id <> p.q_id),"""

  private val ivfsqResNToSrr = ivfNToAsg + """
         resv AS (SELECT a.vec_id, a.cell, list_transform(range(64),
             i -> """ + dyadicResidualSnap + """) AS rv
           FROM asg a JOIN e ON e.vec_id = a.vec_id JOIN k2 k ON k.c_id = a.cell),
         dsc AS (SELECT vec_id, cell, rv,
             list_max(list_transform(rv, x -> abs(x))) / 127.0 AS scale FROM resv),
         dq AS (SELECT vec_id, cell, scale,
             CASE WHEN scale = 0 THEN list_transform(rv, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(rv, x -> CAST(least(greatest(
                    floor(x / scale + 0.5), -127.0), 127.0) AS BIGINT)) END AS q
           FROM dsc),""" + ivfProbePbrToPb + """
         qres AS (SELECT p.q_id, p.cell, list_transform(range(64),
             i -> """ + dyadicResidualSnap + """) AS qr
           FROM pb p JOIN e ON e.vec_id = p.q_id JOIN k2 k ON k.c_id = p.cell),
         qsc AS (SELECT q_id, cell, qr,
             list_reduce(list_transform(qr, x -> x*x), (x,y) -> x+y) AS qn2,
             list_max(list_transform(qr, x -> abs(x))) / 127.0 AS scale FROM qres),
         qsq AS (SELECT q_id, cell, qn2, scale,
             CASE WHEN scale = 0 THEN list_transform(qr, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(qr, x -> CAST(least(greatest(
                    floor(x / scale + 0.5), -127.0), 127.0) AS BIGINT)) END AS q
           FROM qsc),
         """ + residualRivfc + """
         ssc AS (SELECT c.q_id, c.vec_id AS n_id, c.cell,
             a.qn2 - 2 * (a.scale * b.scale * CAST(list_reduce(
               list_transform(range(1, 65), i -> a.q[i]*b.q[i]), (x,y) -> x+y)
               AS DOUBLE)) + b.scale * b.scale * CAST(list_reduce(
               list_transform(range(1, 65), i -> b.q[i]*b.q[i]), (x,y) -> x+y)
               AS DOUBLE) AS adist
           FROM rivfc c JOIN qsq a ON a.q_id = c.q_id AND a.cell = c.cell
           JOIN dq b ON b.vec_id = c.vec_id),
         srr AS (SELECT q_id, n_id, cell, adist, row_number() OVER (PARTITION BY q_id"""

  private val ivfsqResSearchChain = ivfsqResNToSrr + """
             ORDER BY adist, n_id) AS rank FROM ssc)
         SELECT q_id, n_id, cell, round(adist, 6) AS adist, CAST(rank AS INTEGER) AS rank
         FROM srr WHERE rank <= 3"""

  // the PQ sub-vectors (8 dims each) and their squared norms
  private val pqSvToSn = """
         sv AS (SELECT vec_id, tt AS sub, v[tt*8+1 : tt*8+8] AS s
           FROM e, (SELECT unnest(range(8)) AS tt)),
         sn AS (SELECT vec_id, sub, s,
             list_reduce(list_transform(s, x -> x*x), (x,y) -> x+y) AS n2 FROM sv),"""

  private val pqPartialDistance = """q.n2 - 2 * list_reduce(list_transform(range(1, 9), i -> q.s[i]*c.cv[i]),"""

  private val ivfpqNToFr = ivfNToAsg + pqSvToSn + """
         pc0 AS (SELECT sub, vec_id AS code, s AS cv FROM sv WHERE vec_id < 16),
         pk0 AS (SELECT sub, code, cv,
             list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y) AS cn2 FROM pc0),
         pr1 AS (SELECT q.vec_id, q.sub, c.code, q.s,
             row_number() OVER (PARTITION BY q.vec_id, q.sub ORDER BY
               """ + pqPartialDistance + """
                 (x,y) -> x+y) + c.cn2, c.code) AS rn
           FROM sn q JOIN pk0 c ON c.sub = q.sub),
         pa1 AS (SELECT vec_id, sub, code, s FROM pr1 WHERE rn = 1),
         pd1 AS (SELECT sub, code, generate_subscripts(s, 1) AS pos, unnest(s) AS val
           FROM pa1),
         ps1 AS (SELECT sub, code, pos, sum(val) AS sm, count(*) AS cnt
           FROM pd1 GROUP BY sub, code, pos),
         pu1 AS (SELECT sub, code, list(round(sm / cnt, 6) ORDER BY pos) AS cv
           FROM ps1 GROUP BY sub, code),
         pc1 AS (SELECT pc0.sub, pc0.code, coalesce(pu1.cv, pc0.cv) AS cv
           FROM pc0 LEFT JOIN pu1 ON pu1.sub = pc0.sub AND pu1.code = pc0.code),
         pk1 AS (SELECT sub, code, cv,
             list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y) AS cn2 FROM pc1),
         pr2 AS (SELECT q.vec_id, q.sub, c.code, q.s,
             row_number() OVER (PARTITION BY q.vec_id, q.sub ORDER BY
               """ + pqPartialDistance + """
                 (x,y) -> x+y) + c.cn2, c.code) AS rn
           FROM sn q JOIN pk1 c ON c.sub = q.sub),
         pa2 AS (SELECT vec_id, sub, code, s FROM pr2 WHERE rn = 1),
         pd2 AS (SELECT sub, code, generate_subscripts(s, 1) AS pos, unnest(s) AS val
           FROM pa2),
         ps2 AS (SELECT sub, code, pos, sum(val) AS sm, count(*) AS cnt
           FROM pd2 GROUP BY sub, code, pos),
         pu2 AS (SELECT sub, code, list(round(sm / cnt, 6) ORDER BY pos) AS cv
           FROM ps2 GROUP BY sub, code),
         pc2 AS (SELECT pc1.sub, pc1.code, coalesce(pu2.cv, pc1.cv) AS cv
           FROM pc1 LEFT JOIN pu2 ON pu2.sub = pc1.sub AND pu2.code = pc1.code),
         pk2 AS (SELECT sub, code, cv,
             list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y) AS cn2 FROM pc2),
         pr3 AS (SELECT q.vec_id, q.sub, c.code,
             row_number() OVER (PARTITION BY q.vec_id, q.sub ORDER BY
               """ + pqPartialDistance + """
                 (x,y) -> x+y) + c.cn2, c.code) AS rn
           FROM sn q JOIN pk2 c ON c.sub = q.sub),
         pa3 AS (SELECT vec_id, sub, code FROM pr3 WHERE rn = 1),""" + ivfProbePbrToPb + """
         lut AS (SELECT q.vec_id AS q_id, q.sub, c.code,
             CAST(floor((q.n2 - 2 * list_reduce(list_transform(range(1, 9),
                 i -> q.s[i]*c.cv[i]), (x,y) -> x+y) + c.cn2) * 1000000 + 0.5)
               AS BIGINT) AS pd
           FROM sn q JOIN pk2 c ON c.sub = q.sub WHERE q.vec_id < 20),
         ivfc AS (SELECT p.q_id, a.vec_id FROM asg a JOIN pb p ON a.cell = p.cell
           AND a.vec_id <> p.q_id),
         sc AS (SELECT c.q_id, c.vec_id AS n_id, CAST(sum(l.pd) AS BIGINT) AS adist_u
           FROM ivfc c JOIN pa3 a ON a.vec_id = c.vec_id
           JOIN lut l ON l.q_id = c.q_id AND l.sub = a.sub AND l.code = a.code
           GROUP BY 1, 2),
         fr AS (SELECT q_id, n_id, adist_u, row_number() OVER (PARTITION BY q_id"""

  private val residualPqResvToRpa3 = """
         resv AS (SELECT a.vec_id, a.cell, list_transform(range(64),
             i -> """ + dyadicResidualSnap + """) AS rv
           FROM asg a JOIN e ON e.vec_id = a.vec_id JOIN k2 k ON k.c_id = a.cell),
         rsv AS (SELECT vec_id, tt AS sub, rv[tt*8+1 : tt*8+8] AS s
           FROM resv, (SELECT unnest(range(8)) AS tt)),
         rsn AS (SELECT vec_id, sub, s,
             list_reduce(list_transform(s, x -> x*x), (x,y) -> x+y) AS n2 FROM rsv),
         rpc0 AS (SELECT sub, vec_id AS code, s AS cv FROM rsv WHERE vec_id < 16),
         rpk0 AS (SELECT sub, code, cv,
             list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y) AS cn2 FROM rpc0),
         rpr1 AS (SELECT q.vec_id, q.sub, c.code, q.s,
             row_number() OVER (PARTITION BY q.vec_id, q.sub ORDER BY
               """ + pqPartialDistance + """
                 (x,y) -> x+y) + c.cn2, c.code) AS rn
           FROM rsn q JOIN rpk0 c ON c.sub = q.sub),
         rpa1 AS (SELECT vec_id, sub, code, s FROM rpr1 WHERE rn = 1),
         rpd1 AS (SELECT sub, code, generate_subscripts(s, 1) AS pos, unnest(s) AS val
           FROM rpa1),
         rps1 AS (SELECT sub, code, pos, sum(val) AS sm, count(*) AS cnt
           FROM rpd1 GROUP BY sub, code, pos),
         rpu1 AS (SELECT sub, code, list(round(sm / cnt, 6) ORDER BY pos) AS cv
           FROM rps1 GROUP BY sub, code),
         rpc1 AS (SELECT rpc0.sub, rpc0.code, coalesce(rpu1.cv, rpc0.cv) AS cv
           FROM rpc0 LEFT JOIN rpu1 ON rpu1.sub = rpc0.sub AND rpu1.code = rpc0.code),
         rpk1 AS (SELECT sub, code, cv,
             list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y) AS cn2 FROM rpc1),
         rpr2 AS (SELECT q.vec_id, q.sub, c.code, q.s,
             row_number() OVER (PARTITION BY q.vec_id, q.sub ORDER BY
               """ + pqPartialDistance + """
                 (x,y) -> x+y) + c.cn2, c.code) AS rn
           FROM rsn q JOIN rpk1 c ON c.sub = q.sub),
         rpa2 AS (SELECT vec_id, sub, code, s FROM rpr2 WHERE rn = 1),
         rpd2 AS (SELECT sub, code, generate_subscripts(s, 1) AS pos, unnest(s) AS val
           FROM rpa2),
         rps2 AS (SELECT sub, code, pos, sum(val) AS sm, count(*) AS cnt
           FROM rpd2 GROUP BY sub, code, pos),
         rpu2 AS (SELECT sub, code, list(round(sm / cnt, 6) ORDER BY pos) AS cv
           FROM rps2 GROUP BY sub, code),
         rpc2 AS (SELECT rpc1.sub, rpc1.code, coalesce(rpu2.cv, rpc1.cv) AS cv
           FROM rpc1 LEFT JOIN rpu2 ON rpu2.sub = rpc1.sub AND rpu2.code = rpc1.code),
         rpk2 AS (SELECT sub, code, cv,
             list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y) AS cn2 FROM rpc2),
         rpr3 AS (SELECT q.vec_id, q.sub, c.code,
             row_number() OVER (PARTITION BY q.vec_id, q.sub ORDER BY
               """ + pqPartialDistance + """
                 (x,y) -> x+y) + c.cn2, c.code) AS rn
           FROM rsn q JOIN rpk2 c ON c.sub = q.sub),
         rpa3 AS (SELECT vec_id, sub, code FROM rpr3 WHERE rn = 1),"""

  private val residualPqQresToRfr = """
         qres AS (SELECT p.q_id, p.cell, list_transform(range(64),
             i -> """ + dyadicResidualSnap + """) AS qr
           FROM pb p JOIN e ON e.vec_id = p.q_id JOIN k2 k ON k.c_id = p.cell),
         rqs AS (SELECT q_id, cell, tt AS sub, qr[tt*8+1 : tt*8+8] AS s
           FROM qres, (SELECT unnest(range(8)) AS tt)),
         rqn AS (SELECT q_id, cell, sub, s,
             list_reduce(list_transform(s, x -> x*x), (x,y) -> x+y) AS n2 FROM rqs),
         rlut AS (SELECT q.q_id, q.cell, q.sub, c.code,
             CAST(floor((q.n2 - 2 * list_reduce(list_transform(range(1, 9),
                 i -> q.s[i]*c.cv[i]), (x,y) -> x+y) + c.cn2) * 1000000 + 0.5)
               AS BIGINT) AS pd
           FROM rqn q JOIN rpk2 c ON c.sub = q.sub),
         """ + residualRivfc + """
         rsc AS (SELECT c.q_id, c.vec_id AS n_id, CAST(sum(l.pd) AS BIGINT) AS adist_u
           FROM rivfc c JOIN rpa3 a ON a.vec_id = c.vec_id
           JOIN rlut l ON l.q_id = c.q_id AND l.cell = c.cell
             AND l.sub = a.sub AND l.code = a.code
           GROUP BY 1, 2),
         rfr AS (SELECT q_id, n_id, adist_u, row_number() OVER (PARTITION BY q_id"""

  private val exactL2XnToEx = """
         xn AS (SELECT vec_id, v,
             list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y) AS n2 FROM e),
         gs AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             b.n2 - 2 * list_reduce(list_transform(range(1, len(a.v)+1),
               i -> a.v[i]*b.v[i]), (x,y) -> x+y) + a.n2 AS dist
           FROM xn a, xn b WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id),
         gr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY dist, n_id) AS rank FROM gs),
         ex AS (SELECT q_id, n_id FROM gr WHERE rank <= 3)"""

  private val ivfRecallXnToHits = exactL2XnToEx + """
         SELECT ex.q_id,
           CAST(sum(CASE WHEN rw.n_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits_raw,
           CAST(sum(CASE WHEN rs.n_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits_res,
           round(CAST(sum(CASE WHEN rw.n_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) / 3.0, 4) AS recall_raw,
           round(CAST(sum(CASE WHEN rs.n_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) / 3.0, 4) AS recall_res
         FROM ex LEFT JOIN rawk rw ON rw.q_id = ex.q_id AND rw.n_id = ex.n_id
         LEFT JOIN resk rs ON rs.q_id = ex.q_id AND rs.n_id = ex.n_id
         GROUP BY ex.q_id"""

  private val ivfpqRecallChain = ivfpqNToFr + """
             ORDER BY adist_u, n_id) AS rank FROM sc),""" + residualPqResvToRpa3 +
    residualPqQresToRfr + """
             ORDER BY adist_u, n_id) AS rank FROM rsc),
         rawk AS (SELECT q_id, n_id FROM fr WHERE rank <= 3),
         resk AS (SELECT q_id, n_id FROM rfr WHERE rank <= 3),""" + ivfRecallXnToHits

  private val sqScToQq = """
         sc AS (SELECT vec_id, v,""" + sqScaleToQq

  private val ivfsqRecallChain = ivfsqResNToSrr + """
             ORDER BY adist, n_id) AS rank FROM ssc),""" + sqScToQq + """
         rq AS (SELECT e.vec_id AS q_id,
             list_reduce(list_transform(e.v, x -> x*x), (x,y) -> x+y) AS qn2,
             qq.scale AS qs, qq.q AS qv8
           FROM e JOIN qq ON qq.vec_id = e.vec_id WHERE e.vec_id < 20),
         wsc AS (SELECT c.q_id, c.vec_id AS n_id,
             a.qn2 - 2 * (a.qs * b.scale * CAST(list_reduce(
               list_transform(range(1, 65), i -> a.qv8[i]*b.q[i]), (x,y) -> x+y)
               AS DOUBLE)) + b.scale * b.scale * CAST(list_reduce(
               list_transform(range(1, 65), i -> b.q[i]*b.q[i]), (x,y) -> x+y)
               AS DOUBLE) AS adist
           FROM rivfc c JOIN rq a ON a.q_id = c.q_id
           JOIN qq b ON b.vec_id = c.vec_id),
         wrr AS (SELECT q_id, n_id, adist, row_number() OVER (PARTITION BY q_id
             ORDER BY adist, n_id) AS rank FROM wsc),
         rawk AS (SELECT q_id, n_id FROM wrr WHERE rank <= 3),
         resk AS (SELECT q_id, n_id FROM srr WHERE rank <= 3),""" + ivfRecallXnToHits

  private val probeCurveTail = """
           GROUP BY 1, 2),
         j AS (SELECT e.q_id, e.n_id, c.min_idx FROM exact e
           LEFT JOIN cm c ON c.q_id = e.q_id AND c.n_id = e.n_id)
         SELECT CAST(m AS BIGINT) AS n_probes, CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN min_idx < m THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(CAST(sum(CASE WHEN min_idx < m THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(count(*) AS DOUBLE), 4) AS recall
         FROM j, (SELECT unnest([1, 2, 3, 4, 5]) AS m)
         GROUP BY m"""

  private val filteredCmToJ = """
         cm AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id, min(q.idx) AS min_idx
           FROM qp q JOIN bb t ON q.tt = t.tt AND q.bucket = t.bucket
             AND q.label = t.label AND t.vec_id <> q.vec_id""" + probeCurveTail

  private val recallEToXr = embeddingEToN + """
         xs AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n q, n t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id),
         xr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM xs),"""

  private val lshBbOpen = """
         bb AS (SELECT vec_id, tt,
             list_reduce(list_transform(range(4), j -> CASE WHEN
               list_reduce(list_transform(range(64), d -> v[d+1] *
                 """ + lshHyperplane + """
                    / 2147483648.0 - 0.5)), (x,y) -> x+y) > 0
               THEN (1 << j) ELSE 0 END), (x,y) -> x+y) AS bucket"""

  private val lshBb = lshBbOpen + """
           FROM n, (SELECT unnest(range(8)) AS tt)),"""

  private val recallEToBb = recallEToXr + """
         exact AS (SELECT q_id, n_id FROM xr WHERE rank <= 3),""" + lshBb

  private val lshCandToS = lshCandToSOpen + """
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM cand c JOIN n q ON q.vec_id = c.q_id JOIN n t ON t.vec_id = c.n_id),"""

  private val lshCandToR = lshCandToS + """
         r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id"""

  private val recallCandToApprox = lshCandToR + """
             ORDER BY cos DESC, n_id) AS rank FROM s),
         approx AS (SELECT q_id, n_id, 1 AS hit FROM r WHERE rank <= 3)
         SELECT e.q_id, CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS n_hits,
           round(CAST(sum(coalesce(a.hit, 0)) AS DOUBLE) / 3.0, 4) AS recall
         FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
         GROUP BY e.q_id"""

  private val probeCurveCmToJ = """
         cm AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id, min(q.idx) AS min_idx
           FROM qp q JOIN bb t ON q.tt = t.tt AND q.bucket = t.bucket
             AND t.vec_id <> q.vec_id""" + probeCurveTail

  private val lshBbToQp = lshBb + """
         qp AS (SELECT vec_id, tt, xor(bucket, fl) AS bucket"""

  private val lshBbToS = lshBbToQp + """
           FROM bb, (SELECT """ + lshProbeMasks + """) WHERE vec_id < 20),""" + lshCandToS

  private val rankQualityApprox = """
             ORDER BY cos DESC, n_id) AS rank FROM s),
         approx AS (SELECT q_id, n_id, rank FROM r WHERE rank <= 3)
         SELECT e.q_id, CAST(count(a.rank) AS BIGINT) AS n_hits,
           round(CAST(sum(CASE WHEN a.rank IS NOT NULL THEN 4 - e.rank
             ELSE 0 END) AS DOUBLE) / 6.0, 4) AS graded_recall,
           round(coalesce(1::DOUBLE / min(a.rank), 0::DOUBLE), 6) AS mrr
         FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
         GROUP BY e.q_id"""

  private val lshEToS = embeddingEToN + lshBbToS

  private val lshBbToG = lshBbOpen + """
           FROM e, (SELECT unnest(range(8)) AS tt)),
         g AS (SELECT tt, bucket, CAST(count(*) AS BIGINT) AS n
           FROM bb GROUP BY 1, 2)
         SELECT tt AS tbl, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_vecs, max(n) AS max_load,
           round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS mean_load
         FROM g GROUP BY tt"""

  private val ivfEToRk = embeddingsE + ivfNToRk

  private val ivfEToAsg = ivfEToRk + """
             FROM n t, k2 k),
         asg AS (SELECT vec_id, v, nrm, c_id AS cell FROM rk WHERE ar = 1),"""

  private val ivfEToQ = ivfEToAsg + """
         prb AS (SELECT vec_id AS q_id, c_id AS cell FROM rk
           WHERE ar <= 4 AND vec_id < 20),
         q AS (SELECT p.q_id, p.cell, n.v AS qv, n.nrm AS qn
           FROM prb p JOIN n ON n.vec_id = p.q_id),"""

  private val ivfBsToBr = """
         bs AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n q, n t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id),
         br AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM bs),"""

  private val knnEToS = """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
         n AS (SELECT vec_id, label, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),
         s AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id, t.label AS n_label,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos"""

  private val knnRToJ = """
         r AS (SELECT q_id, n_label, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rk FROM s),
         v AS (SELECT q_id, n_label, count(*) AS nv
           FROM r WHERE rk <= 3 GROUP BY 1, 2),
         p AS (SELECT q_id, n_label AS predicted, row_number() OVER (
             PARTITION BY q_id ORDER BY nv DESC, n_label) AS pr FROM v),
         j AS (SELECT p.q_id, p.predicted, e.label
           FROM p JOIN e ON p.q_id = e.vec_id WHERE p.pr = 1)
         SELECT label, count(*) AS n_vecs,
           CAST(sum(CASE WHEN predicted = label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(CAST(sum(CASE WHEN predicted = label THEN 1 ELSE 0 END) AS BIGINT)
             AS DOUBLE) / count(*) AS accuracy
         FROM j GROUP BY label"""

  private val marginNToP = """
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),
         s AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n q, n t WHERE q.vec_id < 100 AND t.vec_id >= 100),
         r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rk FROM s),
         p AS (SELECT q_id,
             max(CASE WHEN rk = 1 THEN n_id END) AS n_id,
             round(max(CASE WHEN rk = 1 THEN cos END), 6) AS cos,
             round(max(CASE WHEN rk = 2 THEN cos END), 6) AS c2
           FROM r WHERE rk <= 2 GROUP BY q_id
           HAVING count(*) = 2)
         SELECT q_id, n_id, cos, round(cos * 2 / (cos + c2), 6) AS margin"""

  private val ivfInertiaEToRk = embeddingsE + ivfNToRkOpen + """
               list_reduce(list_transform(range(1, len(k.cv)+1), i -> k.cv[i]*t.v[i]),
                 (x,y) -> x+y) / (k.cn * t.nrm) AS sc,""" + ivfRkArgmax

  private val pqSvToC2 = pqSvToSn + """
         c0 AS (SELECT sub, vec_id AS code, s AS cv FROM sv WHERE vec_id < 16),
         k0 AS (SELECT sub, code, cv,
             list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y) AS cn2 FROM c0),
         r1 AS (SELECT q.vec_id, q.sub, c.code, q.s,
             row_number() OVER (PARTITION BY q.vec_id, q.sub ORDER BY
               """ + pqPartialDistance + """
                 (x,y) -> x+y) + c.cn2, c.code) AS rn
           FROM sn q JOIN k0 c ON c.sub = q.sub),
         a1 AS (SELECT vec_id, sub, code, s FROM r1 WHERE rn = 1),
         d1 AS (SELECT sub, code, generate_subscripts(s, 1) AS pos, unnest(s) AS val
           FROM a1),
         s1 AS (SELECT sub, code, pos, sum(val) AS sm, count(*) AS cnt
           FROM d1 GROUP BY sub, code, pos),
         u1 AS (SELECT sub, code, list(round(sm / cnt, 6) ORDER BY pos) AS cv
           FROM s1 GROUP BY sub, code),
         c1 AS (SELECT c0.sub, c0.code, coalesce(u1.cv, c0.cv) AS cv
           FROM c0 LEFT JOIN u1 ON u1.sub = c0.sub AND u1.code = c0.code),
         k1 AS (SELECT sub, code, cv,
             list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y) AS cn2 FROM c1),
         r2 AS (SELECT q.vec_id, q.sub, c.code, q.s,
             row_number() OVER (PARTITION BY q.vec_id, q.sub ORDER BY
               """ + pqPartialDistance + """
                 (x,y) -> x+y) + c.cn2, c.code) AS rn
           FROM sn q JOIN k1 c ON c.sub = q.sub),
         a2 AS (SELECT vec_id, sub, code, s FROM r2 WHERE rn = 1),
         d2 AS (SELECT sub, code, generate_subscripts(s, 1) AS pos, unnest(s) AS val
           FROM a2),
         s2 AS (SELECT sub, code, pos, sum(val) AS sm, count(*) AS cnt
           FROM d2 GROUP BY sub, code, pos),
         u2 AS (SELECT sub, code, list(round(sm / cnt, 6) ORDER BY pos) AS cv
           FROM s2 GROUP BY sub, code),
         c2 AS (SELECT c1.sub, c1.code, coalesce(u2.cv, c1.cv) AS cv"""

  private val pqSvToK2 = pqSvToC2 + """
           FROM c1 LEFT JOIN u2 ON u2.sub = c1.sub AND u2.code = c1.code),
         k2 AS (SELECT sub, code, cv,
             list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y) AS cn2 FROM c2),"""

  private val pqSvToR3 = pqSvToK2 + """
         r3 AS (SELECT q.vec_id, q.sub, c.code,
             row_number() OVER (PARTITION BY q.vec_id, q.sub ORDER BY
               """ + pqPartialDistance + """
                 (x,y) -> x+y) + c.cn2, c.code) AS rn"""

  private val pqCodesChain = pqSvToR3 + """
           FROM sn q JOIN k2 c ON c.sub = q.sub)
         SELECT vec_id, CAST(sub AS BIGINT) AS sub, code
         FROM r3 WHERE rn = 1"""

  private val pqSvToSc = pqSvToR3 + """
           FROM sn q JOIN k2 c ON c.sub = q.sub),
         a3 AS (SELECT vec_id, sub, code FROM r3 WHERE rn = 1),
         lut AS (SELECT q.vec_id AS q_id, q.sub, c.code,
             CAST(floor((q.n2 - 2 * list_reduce(list_transform(range(1, 9),
                 i -> q.s[i]*c.cv[i]), (x,y) -> x+y) + c.cn2) * 1000000 + 0.5)
               AS BIGINT) AS pd
           FROM sn q JOIN k2 c ON c.sub = q.sub WHERE q.vec_id < 20),
         sc AS (SELECT l.q_id, a.vec_id AS n_id, CAST(sum(l.pd) AS BIGINT) AS adist_u
           FROM a3 a JOIN lut l ON l.sub = a.sub AND l.code = a.code
             AND a.vec_id <> l.q_id
           GROUP BY 1, 2),"""

  private val pqSvToR = pqSvToSc + """
         r AS (SELECT q_id, n_id, adist_u, row_number() OVER (PARTITION BY q_id"""

  private val pqSearchChain = pqSvToR + """
             ORDER BY adist_u, n_id) AS rank FROM sc)
         SELECT q_id, n_id, round(CAST(adist_u AS DOUBLE) / 1000000.0, 6) AS adist,
           CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 3"""

  private val pqRecallXnToHits = exactL2XnToEx + """
         SELECT ex.q_id AS q_id,
           CAST(sum(CASE WHEN ak.n_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           round(CAST(sum(CASE WHEN ak.n_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) / 3.0, 4) AS recall
         FROM ex LEFT JOIN ak ON ak.q_id = ex.q_id AND ak.n_id = ex.n_id
         GROUP BY ex.q_id"""

  private val pqRecallChain = pqSvToR + """
             ORDER BY adist_u, n_id) AS rank FROM sc),
         ak AS (SELECT q_id, n_id FROM r WHERE rank <= 3),""" + pqRecallXnToHits

  private val pqRerankEToFr = embeddingsE + pqSvToSc + """
         sl AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id ORDER BY adist_u, n_id) AS rnk
           FROM sc) z WHERE rnk <= 64),
         vv AS (SELECT vec_id, v,
             list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y) AS n2 FROM e),
         rr AS (SELECT s.q_id, s.n_id,
             t.n2 - 2 * list_reduce(list_transform(range(1, 65), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) + q.n2 AS dist
           FROM sl s JOIN vv q ON q.vec_id = s.q_id JOIN vv t ON t.vec_id = s.n_id),
         fr AS (SELECT q_id, n_id, dist, row_number() OVER (PARTITION BY q_id"""

  private val ivfpqSearchChain = ivfpqNToFr + """
             ORDER BY adist_u, n_id) AS rank FROM sc)
         SELECT q_id, n_id, round(CAST(adist_u AS DOUBLE) / 1000000.0, 6) AS adist,
           CAST(rank AS BIGINT) AS rank
         FROM fr WHERE rank <= 3"""

  private val ivfpqResSearchChain = ivfNToAsg + residualPqResvToRpa3 + ivfProbePbrToPb + residualPqQresToRfr + """
             ORDER BY adist_u, n_id) AS rank FROM rsc)
         SELECT q_id, n_id, round(CAST(adist_u AS DOUBLE) / 1000000.0, 6) AS adist,
           CAST(rank AS BIGINT) AS rank
         FROM rfr WHERE rank <= 3"""

  private val sqQqToS = sqScaleToQq + """
         s AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,""" + sqAdot

  private val sqEToROpen = embeddingsE + """
         sc AS (SELECT vec_id, v,""" + sqQqToS + """
           FROM qq a, qq b WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id),
         r AS (SELECT q_id, n_id, adot, row_number() OVER (PARTITION BY q_id"""

  private val binarySignPackWords = """list_reduce(list_transform(range(32), i -> CASE WHEN v[i+1] > 0
               THEN (1::BIGINT << i) ELSE 0::BIGINT END), (x,y) -> x+y) AS w0,
             list_reduce(list_transform(range(32), i -> CASE WHEN v[i+33] > 0
               THEN (1::BIGINT << i) ELSE 0::BIGINT END), (x,y) -> x+y) AS w1"""

  private val binaryHamming = """CAST(bit_count(xor(a.w0, t.w0)) + bit_count(xor(a.w1, t.w1)) AS BIGINT) AS hamming"""

  private val binaryBToS = """
         b AS (SELECT vec_id,
             """ + binarySignPackWords + """
           FROM e),
         s AS (SELECT a.vec_id AS q_id, t.vec_id AS n_id,
             """ + binaryHamming

  private val binaryEToROpen = embeddingsE + binaryBToS + """
           FROM b a, b t WHERE a.vec_id < 20 AND t.vec_id <> a.vec_id),
         r AS (SELECT q_id, n_id, hamming, row_number() OVER (PARTITION BY q_id"""

  private val binaryEToR = binaryEToROpen + """
             ORDER BY hamming, n_id) AS rank FROM s),"""

  // the binary shortlist's exact-cosine rerank: candidates `cd`, then
  // norms `n` over the oracle's own vector CTE, then `ex`/`rr`
  private val binaryRerankCdToN = """
         cd AS (SELECT q_id, n_id FROM r WHERE rank <= 20),
         n AS (SELECT vec_id, v,"""

  private val binaryRerankExToRr = """
         ex AS (SELECT c.q_id, c.n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM cd c JOIN n q ON q.vec_id = c.q_id JOIN n t ON t.vec_id = c.n_id),
         rr AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id"""

  private val binaryEToRr = binaryEToR + binaryRerankCdToN + """
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),""" +
    binaryRerankExToRr

  private val cosineSbToRb = """
         sb AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n q, n t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id),
         rb AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM sb),"""

  private val sqEToR = sqEToROpen + """
             ORDER BY adot DESC, n_id) AS rank FROM s),"""

  private val sqEToRr = sqEToR + """
         cd AS (SELECT q_id, n_id FROM r WHERE rank <= 20),
         ex AS (SELECT c.q_id, c.n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) AS dp
           FROM cd c JOIN e q ON q.vec_id = c.q_id JOIN e t ON t.vec_id = c.n_id),
         rr AS (SELECT q_id, n_id, dp, row_number() OVER (PARTITION BY q_id"""

  private val mipsSbToOv = mipsSbToOvOpen + """
           FROM (SELECT q_id, n_id FROM rb WHERE rank <= 5) b"""

  private val sqScToQs2 = sqScToQq + """
         qs2 AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,""" + sqAdot

  private val hybridFuToFr = """
         fu AS (SELECT coalesce(dr.q_id, br.q_id) AS q_id,
             coalesce(dr.match_id, br.match_id) AS match_id,
             coalesce(dr.dense_rank, 0) AS dense_rank,
             coalesce(br.bm25_rank, 0) AS bm25_rank
           FROM dr FULL OUTER JOIN br
             ON br.q_id = dr.q_id AND br.match_id = dr.match_id),
         fs AS (SELECT q_id, match_id, dense_rank, bm25_rank,
             CAST(CASE WHEN dense_rank > 0
                 THEN floor(1000000::DOUBLE / (60 + dense_rank)) ELSE 0 END
               + CASE WHEN bm25_rank > 0
                 THEN floor(1000000::DOUBLE / (60 + bm25_rank)) ELSE 0 END
               AS BIGINT) AS rrf6
           FROM fu),
         fr AS (SELECT q_id, match_id, dense_rank, bm25_rank, rrf6,
             row_number() OVER (PARTITION BY q_id
               ORDER BY rrf6 DESC, match_id) AS rank FROM fs)
         SELECT q_id, match_id, dense_rank, bm25_rank, rrf6,
           CAST(rank AS INTEGER) AS rank
         FROM fr WHERE rank <= 5"""

  private val exactDedupKeep1 = """keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))"""

  private val curateQ = """
         q AS (SELECT doc_id, round(
             """ + qualityLengthTerm + """ +
             0.3 * (len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) /
                    CAST(len(string_split(text,' ')) AS DOUBLE)) +
             0.3 * (1.0 - length(regexp_replace(text, '[a-z ]', '', 'g')) /
                    CAST(greatest(length(text), 1) AS DOUBLE)), 6) AS quality"""

  private val curateKeep1ToR = """WITH """ + exactDedupKeep1 + """,
         d1 AS (SELECT d.* FROM documents d JOIN keep1 k ON d.doc_id = k.doc_id),""" + curateQ + """
           FROM d1),
         r AS (SELECT d.doc_id,
             round(percent_rank() OVER (PARTITION BY d.lang
               ORDER BY q.quality, d.doc_id), 6) AS pr
           FROM d1 d JOIN q ON d.doc_id = q.doc_id),"""

  private val curateTkToOv = """
         tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
           FROM tk WHERE len(t) >= 3),
         inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         ov AS (SELECT c.doc_id FROM inv c JOIN inv b ON c.shingle = b.shingle
           WHERE c.doc_id >= 50 AND b.doc_id < 50
           GROUP BY c.doc_id, b.doc_id HAVING count(*) >= 5),"""

  private val curateKeep1ToD3 = curateKeep1ToR + """
         d2 AS (SELECT d1.* FROM d1 JOIN r ON d1.doc_id = r.doc_id
           WHERE r.pr >= 0.5 AND d1.doc_id >= 50),""" + curateTkToOv + """
         d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM ov)),"""

  private val curatePacked = """
         packed AS (SELECT doc_id, lang, source,
             CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             CAST(sum(len(string_split(text,' '))) OVER (PARTITION BY source
               ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM d3)
         SELECT doc_id, source, n_tokens,
           CAST((cum - n_tokens) // 500 AS BIGINT) AS shard, lang
         FROM packed"""

  private val curateInvToPacked = """
         inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         ov AS (SELECT c.doc_id FROM inv c JOIN inv b ON c.shingle = b.shingle
           WHERE c.doc_id >= 50 AND b.doc_id < 50
           GROUP BY c.doc_id, b.doc_id HAVING count(*) >= 5),
         d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM ov)),""" + curatePacked

  private val curateTkToPacked = """
         tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
           FROM tk WHERE len(t) >= 3),""" + curateInvToPacked

  private val minhashRepToE = minhashRepToCp + """
           FROM band x JOIN band y ON x.b = y.b AND x.key = y.key AND x.rep < y.rep),
         p AS (SELECT doc_a, doc_b FROM stars UNION ALL SELECT doc_a, doc_b FROM cp),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p),"""

  private val curateSplitColumns = """
           CASE WHEN CAST(('0x' || substr(md5(CAST(l3.cluster AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(l3.cluster AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           d.lang, d.source,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens"""

  private val curateSplitKeep1ToL3 = curateKeep1ToD3 + """
                  ctk AS (SELECT doc_id, string_split(text, ' ') AS t FROM d3),
         t AS (SELECT doc_id, list_transform(
             list_distinct(list_transform(range(len(t) - 2),
               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])),
             """ + minhashShingleHash + """
           FROM ctk WHERE len(t) >= 3),
         sig AS (SELECT doc_id, list_transform(range(16),
             i -> list_min(list_transform(hs, h -> """ + minhashPermutation + """))) AS s
           FROM t),""" + minhashRepToE + """
         l0 AS (SELECT doc_id, doc_id AS cluster FROM d3),""" + clusterL1ToL3

  private val curateMixturePacked = """
         packed AS (SELECT doc_id, lang, source,
             CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             CAST(sum(len(string_split(text,' '))) OVER (PARTITION BY source
               ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM d4)
         SELECT doc_id, source, n_tokens,
           CAST((cum - n_tokens) // 500 AS BIGINT) AS shard, lang
         FROM packed"""

  private val mediaE = """WITH e AS (SELECT doc_id AS vec_id,
             list_transform(range(64), i -> CASE WHEN length(text) = 0 THEN 0.0
               ELSE """ + mediaStubEmbedding + """ END) AS v
           FROM documents),"""

  private val mediaEToN = mediaE + """
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),"""

  private val mediaBinaryE0ToR = """WITH e0 AS (SELECT doc_id AS vec_id,
             list_transform(range(64), i -> CASE WHEN length(text) = 0 THEN 0.0
               ELSE """ + mediaStubEmbedding + """ END) AS v
           FROM documents),
         e AS (SELECT vec_id, list_transform(v, x -> x - 0.5) AS v FROM e0),""" + binaryBToS + """
           FROM b a, b t WHERE a.vec_id < 5 AND t.vec_id <> a.vec_id),
         r AS (SELECT q_id, n_id, hamming, row_number() OVER (PARTITION BY q_id"""

  private val mediaBinaryE0ToRr = mediaBinaryE0ToR + """
             ORDER BY hamming, n_id) AS rank FROM s),""" + binaryRerankCdToN + """
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e0),""" +
    binaryRerankExToRr

  private val mediaLshBbToR = lshBbToQp + """
           FROM bb, (SELECT """ + lshProbeMasks + """) WHERE vec_id < 5),""" + lshCandToR

  private val mediaLabeledE = """WITH e AS (SELECT doc_id AS vec_id, lang AS label,
             list_transform(range(64), i -> CASE WHEN length(text) = 0 THEN 0.0
               ELSE """ + mediaStubEmbedding + """ END) AS v
           FROM documents),"""

  private val mediaFilteredEToXr = mediaLabeledE + filteredNToXs + """
           WHERE q.vec_id < 5),
         xr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM xs),"""

  private val mediaFilteredEToBb = mediaFilteredEToXr + filteredExactToBb

  private val mediaEToXr = mediaEToN + """
         xs AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n q, n t WHERE q.vec_id < 5 AND t.vec_id <> q.vec_id),
         xr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM xs),"""

  private val mediaEToExact = mediaEToXr + """
         exact AS (SELECT q_id, n_id FROM xr WHERE rank <= 3),"""

  private val mediaEToBb = mediaEToExact + lshBb

  private val mediaDedupEToBb = mediaEToN + """
         bb AS (SELECT vec_id, tt,
             list_reduce(list_transform(range(16), j -> CASE WHEN
               list_reduce(list_transform(range(64), d -> (v[d+1] - 0.5) *
                 (CAST((1103515245::BIGINT * ((tt*16 + j)*64 + d) + 12345) % 2147483648 AS DOUBLE)
                    / 2147483648.0 - 0.5)), (x,y) -> x+y) > 0
               THEN (1 << j) ELSE 0 END), (x,y) -> x+y) AS bucket
           FROM n, (SELECT unnest(range(4)) AS tt)),"""

  private val sessionGapRuleY = """y AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 300000000
           THEN 1 ELSE 0 END AS new_session FROM x),"""

  private val valueSessionXToZ = """WITH x AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         """ + sessionGapRuleY + """
         z AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id"""

  private val sessionAggSelect = """min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM z GROUP BY user_id, session_seq"""

  private val dyadicLogBucket = """CASE WHEN gap_s <= 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(1 + (length(bin(gap_s)) - 1) * 4
               + ((gap_s * 4) // (1::BIGINT << (length(bin(gap_s)) - 1)) - 4)
               AS BIGINT) END AS bucket FROM """

  private val histLogLbToCu = """
         lb AS (SELECT """ + dyadicLogBucket + """b),
         sk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM lb GROUP BY 1),
         cu AS (SELECT bucket, c,
             CAST(sum(c) OVER (ORDER BY bucket) AS BIGINT) AS cum,
             CAST(sum(c) OVER () AS BIGINT) AS n"""

  private val dyadicBucketUpperEdge = """CASE WHEN bucket = 0 THEN CAST(0 AS DOUBLE) ELSE CAST((1::BIGINT << CAST((bucket - 1) // 4 AS INTEGER)) * ((bucket - 1) % 4 + 5) AS DOUBLE) / 4.0 END"""

  private val histLogQuantileEstimates = """
           round(min(CASE WHEN cum >= CAST(ceil(0.5::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
             THEN """ + dyadicBucketUpperEdge + """ END), 2) AS p50_est,
           round(min(CASE WHEN cum >= CAST(ceil(0.9::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
             THEN """ + dyadicBucketUpperEdge + """ END), 2) AS p90_est,
           round(min(CASE WHEN cum >= CAST(ceil(0.99::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
             THEN """ + dyadicBucketUpperEdge + """ END), 2) AS p99_est"""

  private val histLogLbToEstimate = histLogLbToCu + """
           FROM sk)
         SELECT CAST(max(n) AS BIGINT) AS n,""" + histLogQuantileEstimates + """
         FROM cu"""

  private val sessionYToZ = """
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         """ + sessionGapRuleY + """
         z AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
           ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM y),"""

  private val sessionPathsXToT = """WITH x AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,""" + sessionYToZ + """
         t AS (SELECT event_type AS from_type, lead(event_type) OVER (
             PARTITION BY user_id, session_seq ORDER BY ts_us, event_id) AS to_type"""

  private val transitionsXToC = sessionPathsXToT + """
           FROM z),
         c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions"""

  private val transitionPNext = """round(CAST(n_transitions AS DOUBLE) /
             CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p_next"""

  private val funnelS1ToS3Open = """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1_us FROM events
             WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2_us FROM events e
             JOIN s1 ON s1.user_id = e.user_id
             WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1_us
             GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3_us FROM events e
             JOIN s2 ON s2.user_id = e.user_id
             WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2_us"""

  private val funnelS1ToS3 = funnelS1ToS3Open + """
             GROUP BY e.user_id),"""

  private val propsItemExtract = """CAST(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT)"""

  private val covisitPToPr = """WITH p AS (SELECT user_id,
             """ + propsItemExtract + """
               AS item
           FROM events),
         ui AS (SELECT user_id, item, CAST(count(*) AS BIGINT) AS cnt
           FROM p WHERE item IS NOT NULL GROUP BY 1, 2),
         cap AS (SELECT user_id, item FROM (SELECT *, row_number() OVER (
             PARTITION BY user_id ORDER BY cnt DESC, item) AS rk FROM ui)
           WHERE rk <= 20),
         pr AS (SELECT a.item AS item_a, b.item AS item_b,
             CAST(count(*) AS BIGINT) AS n_users
           FROM cap a JOIN cap b ON a.user_id = b.user_id AND a.item < b.item"""

  private val sessionCovisitXToPr = """WITH x AS (SELECT user_id, event_id, props, epoch_us(ts) AS ts_us,""" + sessionYToZ + """
         p AS (SELECT user_id, session_seq,
             """ + propsItemExtract + """
               AS item
           FROM z),
         ui AS (SELECT user_id, session_seq, item, CAST(count(*) AS BIGINT) AS cnt
           FROM p WHERE item IS NOT NULL GROUP BY 1, 2, 3),
         cap AS (SELECT user_id, session_seq, item FROM (SELECT *, row_number() OVER (
             PARTITION BY user_id, session_seq ORDER BY cnt DESC, item) AS rk FROM ui)
           WHERE rk <= 20),
         pr AS (SELECT a.item AS item_a, b.item AS item_b,
             CAST(count(*) AS BIGINT) AS n_sessions
           FROM cap a JOIN cap b ON a.user_id = b.user_id
             AND a.session_seq = b.session_seq AND a.item < b.item"""

  private val covisitPToSp = covisitPToPr + """
           GROUP BY 1, 2),
         sp AS (SELECT item_a, item_b, n_users FROM pr WHERE n_users >= 2),"""

  private val hllUserHash = """CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 2147483647 AS h"""

  private val hllRegisterRank = """MAX(CASE WHEN h >> 6 = 0 THEN 26
                 ELSE 26 - length(bin(h >> 6)) END) AS reg"""

  private val hllHarmonicSum = """CAST(SUM(CAST(1 AS BIGINT) << (26 - reg)) AS BIGINT) AS z"""

  private val hllHToReg0 = """WITH h AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id,
           """ + hllUserHash + """
           FROM events),
         reg0 AS (SELECT day, h & 63 AS j,
             """ + hllRegisterRank + """
           FROM h GROUP BY 1, 2),"""

  private val hllHToS = hllHToReg0 + """
         reg AS (SELECT j, MAX(reg) AS reg FROM reg0 GROUP BY 1),
         grid AS (SELECT gg.j, COALESCE(reg.reg, 0) AS reg
           FROM (SELECT unnest(range(64)) AS j) gg
           LEFT JOIN reg ON reg.j = gg.j),
         s AS (SELECT
             """ + hllHarmonicSum + """,
             CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v"""

  private val histBucket = """CAST(floor(value / 5::DOUBLE) AS BIGINT) AS bucket"""

  private val histQuantileEstimates = """
           round((min(CASE WHEN cum >= CAST(ceil(0.5::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
             THEN bucket END) + 1) * 5::DOUBLE, 2) AS p50_est,
           round((min(CASE WHEN cum >= CAST(ceil(0.9::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
             THEN bucket END) + 1) * 5::DOUBLE, 2) AS p90_est,
           round((min(CASE WHEN cum >= CAST(ceil(0.99::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
             THEN bucket END) + 1) * 5::DOUBLE, 2) AS p99_est"""

  private val gapEToBLast = """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         g AS (SELECT us - lag(us) OVER (PARTITION BY user_id
             ORDER BY us, event_id) AS gap_us FROM e),
         b AS (SELECT gap_us // 1000000 AS gap_s FROM g
           WHERE gap_us IS NOT NULL)"""

  private val gapEToB = gapEToBLast + ","

  private val attributionPToTch = """WITH p AS (SELECT event_id AS p_id, epoch_us(ts) AS p_us, user_id, value
           FROM events WHERE event_type = 'purchase'),
         tch AS (SELECT user_id, event_id AS t_id, epoch_us(ts) AS t_us,
             event_type AS touch_type
           FROM events WHERE event_type IN ('view', 'click')),"""

  private val histSkToCu = """sk AS (SELECT event_type, """ + histBucket + """,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         cu AS (SELECT event_type, bucket, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
           FROM sk)"""

  private val histEstimate = """SELECT event_type, CAST(max(n) AS BIGINT) AS n,""" + histQuantileEstimates + """
         FROM cu GROUP BY 1"""

  private val histLogDailyEToSk = """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         g AS (SELECT us, us - lag(us) OVER (PARTITION BY user_id
             ORDER BY us, event_id) AS gap_us FROM e),
         b AS (SELECT us // 86400000000 AS day, gap_us // 1000000 AS gap_s
           FROM g WHERE gap_us IS NOT NULL),
         lb AS (SELECT day, """ + dyadicLogBucket + """b),
         sk AS (SELECT day, bucket, CAST(count(*) AS BIGINT) AS c
           FROM lb GROUP BY 1, 2),"""

  private val histLogDailyEstimate = """
         SELECT CAST(day AS BIGINT) AS day, CAST(max(n) AS BIGINT) AS n,""" +
    histLogQuantileEstimates

  private val histDailyEstimate = """
         SELECT event_type, CAST(day AS BIGINT) AS day, CAST(max(n) AS BIGINT) AS n,""" +
    histQuantileEstimates

  private val histDsk = """WITH dsk AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             """ + histBucket + """,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2, 3),"""

  private val cmsCntToSkOpen = """WITH cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY token),
         sk AS (SELECT CAST(tt AS BIGINT) AS tbl,
             CAST(('0x' || substr(md5(CAST(tt AS VARCHAR) || ':' || token), 1, 15))
               AS BIGINT) % 512 AS bucket,
             CAST(sum(c) AS BIGINT) AS c
           FROM cnt CROSS JOIN (SELECT unnest(range(4)) AS tt) tts"""

  private val cmsCntToSk = cmsCntToSkOpen + """
           GROUP BY 1, 2),"""

  private val kmvDuToDp = """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
           FROM events),
         hs AS (SELECT DISTINCT day,
           """ + hllUserHash + """
           FROM du),
         sig AS (SELECT day, h FROM (SELECT day, h,
             row_number() OVER (PARTITION BY day ORDER BY h) AS r FROM hs)
           WHERE r <= 32),
         dp AS (SELECT a.day AS da, b.day AS db"""

  private val kmvUToFl = """
         u AS (SELECT DISTINCT da, db, h FROM (
           SELECT dp.da, dp.db, s.h FROM dp JOIN sig s ON s.day = dp.da
           UNION ALL
           SELECT dp.da, dp.db, s.h FROM dp JOIN sig s ON s.day = dp.db)),
         rk AS (SELECT da, db, h FROM (SELECT da, db, h,
             row_number() OVER (PARTITION BY da, db ORDER BY h) AS r FROM u)
           WHERE r <= 32),
         fl AS (SELECT rk.da, rk.db,
             CAST(sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS nboth
           FROM rk
           LEFT JOIN sig sa ON sa.day = rk.da AND sa.h = rk.h
           LEFT JOIN sig sb ON sb.day = rk.db AND sb.h = rk.h"""

  private val dailyCountC = """c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)"""

  private val trendCToM = """WITH """ + dailyCountC + """,
         m0 AS (SELECT event_type, min(day) AS d0 FROM c GROUP BY 1),
         xy AS (SELECT c.event_type, c.day - m0.d0 AS x, c.n AS y
           FROM c JOIN m0 ON m0.event_type = c.event_type),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx"""

  // dow = (day + 4) % 7 so 0 = Sunday
  private val dowCToG = """WITH """ + dailyCountC + """,
         d AS (SELECT *, (day + 4) % 7 AS dow FROM c),
         g AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n) AS BIGINT) AS s, CAST(sum(n*n) AS BIGINT) AS s2
           FROM d GROUP BY 1, 2)"""

  // ---- core: the reference pipeline, its analytics, and the TPC-H-style batch queries ----
  private def core: Map[String, String] = Map(
    "c08_c09_enrich" ->
      """SELECT o.o_orderkey AS order_id, o.o_custkey AS customer_id,
         c.c_name AS customer_name, c.c_mktsegment AS city,
         o.o_totalprice AS purchase_amount
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""",
    "c10_filter_city" ->
      """SELECT o.o_orderkey AS order_id, o.o_custkey AS customer_id,
         c.c_name AS customer_name, c.c_mktsegment AS city,
         o.o_totalprice AS purchase_amount
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'""",
    "c11_scalar_avg" ->
      """SELECT round(sum(o.o_totalprice), 4) / count(*) AS avg_purchase
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'""",
    "c12_avg_by_city" ->
      """SELECT c.c_mktsegment AS city, round(sum(o.o_totalprice), 4) / count(*) AS avg_purchase
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_mktsegment""",
    "c13_sum_by_city" ->
      """SELECT c.c_mktsegment AS city, round(sum(o.o_totalprice), 4) AS total_purchase
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_mktsegment""",
    "c14_top10" ->
      "SELECT * FROM customer ORDER BY c_custkey LIMIT 10",
    "c02_json_decode" ->
      "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events",
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
         round(sum(l_quantity), 4) / count(*) AS avg_qty,
         round(sum(l_discount), 4) / count(*) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
    "q_star_join" ->
      """SELECT r.r_name, n.n_name, round(sum(o.o_totalprice), 4) AS revenue,
         count(*) AS n_orders
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY r.r_name, n.n_name""",
    "q_anti_join" ->
      """SELECT c_custkey FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""",
    "q_local_supplier" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
           AND c.c_nationkey = s.s_nationkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
           AND o.o_orderdate >= DATE '1995-01-01'
           AND o.o_orderdate < DATE '1996-01-01'
         GROUP BY n_name""",
    "q_promo_share" ->
      """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INTEGER) AS ym,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN
             CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS promo_cents,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
             AS BIGINT)) AS BIGINT) AS total_cents,
           round(CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN
               CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)
               ELSE 0 END) AS DOUBLE) * 100.0 /
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
               AS BIGINT)) AS DOUBLE), 6) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1""",
    "q_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
               AS BIGINT)) AS BIGINT) AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_items
           FROM lineitem GROUP BY 1)
         SELECT s_suppkey, s_name, n_items,
           CAST(rev_cents AS DOUBLE) / 100.0 AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_cents = (SELECT max(rev_cents) FROM rev)""",
    "q_returned_items" ->
      """WITH r AS (SELECT o_custkey,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
               AS BIGINT)) AS BIGINT) AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_items
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= DATE '1996-01-01'
             AND o_orderdate < DATE '1997-01-01'
           GROUP BY 1
           ORDER BY rev_cents DESC, o_custkey LIMIT 20)
         SELECT c_custkey, c_name, n_name, n_items,
           CAST(rev_cents AS DOUBLE) / 100.0 AS revenue
         FROM r JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey""",
    "q_shipping_priority" ->
      """WITH f AS (SELECT l.l_orderkey, o.o_orderdate,
             CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100 + 0.5)
               AS BIGINT)) AS BIGINT) AS rev_c
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           WHERE c.c_mktsegment = 'BUILDING'
             AND o.o_orderdate < DATE '1996-07-01'
             AND l.l_shipdate > DATE '1996-07-01'
           GROUP BY 1, 2)
         SELECT l_orderkey, o_orderdate, CAST(rev_c AS DOUBLE) / 100.0 AS revenue
         FROM f ORDER BY rev_c DESC, l_orderkey LIMIT 10""",
    "q_forecast_revenue" ->
      """SELECT count(*) AS n_items,
           CAST(CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
             AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
    "q_volume_shipping" ->
      """WITH supp AS (SELECT s_suppkey, n_name AS supp_nation
             FROM supplier JOIN nation ON s_nationkey = n_nationkey
             WHERE n_name IN ('NATION_1', 'NATION_2')),
           cust AS (SELECT c_custkey, n_name AS cust_nation
             FROM customer JOIN nation ON c_nationkey = n_nationkey
             WHERE n_name IN ('NATION_1', 'NATION_2'))
         SELECT supp_nation, cust_nation, EXTRACT(YEAR FROM l_shipdate) AS l_year,
           CAST(CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
             AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
         FROM lineitem
         JOIN supp ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN cust ON o_custkey = c_custkey
         WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
           AND supp_nation <> cust_nation
         GROUP BY 1, 2, 3""",
    "q_product_profit" ->
      """SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
           CAST(CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
             AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2""",
    "q_small_qty_revenue" ->
      """WITH b AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q, l_extendedprice
             FROM lineitem JOIN part ON l_partkey = p_partkey
             WHERE p_brand = 'Brand#23'),
           p AS (SELECT l_partkey AS pk, CAST(sum(q) AS BIGINT) AS sum_q,
               count(*) AS n_i
             FROM b GROUP BY 1)
         SELECT count(*) AS n_items,
           CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS DOUBLE) / 700.0 AS avg_yearly
         FROM b JOIN p ON b.l_partkey = p.pk
         WHERE b.q * 5 * p.n_i < p.sum_q""",
    "q_large_orders" ->
      """WITH tq AS (SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
           FROM lineitem GROUP BY 1
           HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 4) AS o_totalprice, total_qty
         FROM tq JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY round(orders.o_totalprice, 4) DESC, o_orderkey LIMIT 20""",
    "q_disjunct_pricing" ->
      """SELECT count(*) AS n_items,
           CAST(CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
             AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",
    "q_custdist" ->
      """WITH pc AS (SELECT c_custkey,
             CAST(count(o_orderkey) AS BIGINT) AS n_orders
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY 1)
         SELECT n_orders, CAST(count(*) AS BIGINT) AS n_custs
         FROM pc GROUP BY 1""",
    "q_reconcile" ->
      """WITH l AS (SELECT l_orderkey,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS lsum
           FROM lineitem GROUP BY 1),
         o AS (SELECT o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS ocents
           FROM orders),
         st AS (SELECT
             CASE WHEN l.lsum IS NULL THEN 'no_items'
               WHEN l.lsum = o.ocents THEN 'match'
               ELSE 'mismatch' END AS status,
             abs(COALESCE(l.lsum, 0) - o.ocents) AS d
           FROM o LEFT JOIN l ON o.o_orderkey = l.l_orderkey)
         SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(d) AS BIGINT) AS abs_diff_cents,
           CAST(max(d) AS BIGINT) AS max_diff_cents
         FROM st GROUP BY 1""",
    "q_waiting_supplier" ->
      """WITH fin AS (SELECT o_orderkey, o_orderdate FROM orders
           WHERE o_orderstatus = 'F'),
         l AS (SELECT l_orderkey, l_suppkey,
             CASE WHEN epoch_us(l_shipdate) > epoch_us(o_orderdate) + 5184000000000
               THEN 1 ELSE 0 END AS late
           FROM lineitem JOIN fin ON l_orderkey = o_orderkey),
         ps AS (SELECT l_orderkey, l_suppkey, max(late) AS supp_late
           FROM l GROUP BY 1, 2),
         po AS (SELECT l_orderkey FROM ps GROUP BY l_orderkey
           HAVING count(*) > 1 AND CAST(sum(supp_late) AS BIGINT) = 1),
         w AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
           FROM ps JOIN po USING (l_orderkey) WHERE supp_late = 1
           GROUP BY l_suppkey),
         t AS (SELECT l_suppkey, numwait FROM w
           ORDER BY numwait DESC, l_suppkey LIMIT 10)
         SELECT s_suppkey, s_name, numwait FROM t
         JOIN supplier ON s_suppkey = l_suppkey""",
    "q_lapsed_accounts" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           FROM customer),
         thr AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
           FROM c WHERE bal_cents > 0),
         rich AS (SELECT c.* FROM c, thr WHERE c.bal_cents * thr.n > thr.s),
         idle AS (SELECT * FROM rich WHERE NOT EXISTS
           (SELECT 1 FROM orders o WHERE o.o_custkey = rich.c_custkey
              AND o.o_orderdate >= '2000-01-01'))
         SELECT n_name, CAST(count(*) AS BIGINT) AS n_custs,
           round(CAST(sum(bal_cents) AS DOUBLE) / 100.0, 2) AS total_bal
         FROM idle JOIN nation ON n_nationkey = c_nationkey
         GROUP BY n_name""",
    "q_important_parts" ->
      """WITH pc AS (SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
               AS BIGINT)) AS BIGINT) AS c
           FROM lineitem GROUP BY 1),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS n
           FROM pc),
         hot AS (SELECT l_partkey, c, n, tot FROM pc, t
           WHERE pc.c * t.n * 10 > 15 * t.tot)
         SELECT p_partkey, p_name, CAST(c AS DOUBLE) / 100.0 AS revenue,
           round(CAST(c * n AS DOUBLE) / CAST(tot AS DOUBLE), 4) AS x_avg
         FROM hot JOIN part ON p_partkey = l_partkey""",
    "q_full_outer" ->
      """WITH b AS (SELECT o_orderdate AS day, count(*) AS n_big FROM orders
           WHERE o_totalprice > 400000 GROUP BY 1),
         u AS (SELECT o_orderdate AS day, count(*) AS n_urgent FROM orders
           WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
         SELECT coalesce(b.day, u.day) AS day, b.n_big, u.n_urgent
         FROM b FULL OUTER JOIN u ON b.day = u.day""",
    "q_min_cost_supplier" ->
      """WITH parts AS (SELECT p_partkey, p_name FROM part
           WHERE p_size <= 15 AND p_type = 'LARGE'),
         supp AS (SELECT s_suppkey, s_name, n_name,
             CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'ASIA'),
         offers AS (SELECT p_partkey, p_name, s_suppkey, s_name, n_name, bal_c,
             CAST(min(CAST(floor(l_extendedprice * 100 / l_quantity + 0.5)
               AS BIGINT)) AS BIGINT) AS unit_c
           FROM lineitem JOIN parts ON l_partkey = p_partkey
           JOIN supp ON l_suppkey = s_suppkey
           GROUP BY 1, 2, 3, 4, 5, 6),
         best AS (SELECT p_partkey AS mk, min(unit_c) AS min_c
           FROM offers GROUP BY 1),
         t AS (SELECT * FROM offers
           JOIN best ON p_partkey = mk AND unit_c = min_c
           ORDER BY bal_c DESC, n_name, s_name, p_partkey LIMIT 20)
         SELECT CAST(bal_c AS DOUBLE) / 100.0 AS s_acctbal, s_name, n_name,
           p_partkey, p_name, CAST(unit_c AS DOUBLE) / 100.0 AS unit_price
         FROM t""",
    "q_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders o
         WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
               AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1""",
    "q_yearly_growth" ->
      """WITH r AS (SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
               AS BIGINT)) AS BIGINT) AS rev_c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         g AS (SELECT n_name, o_year, rev_c,
             lag(rev_c) OVER (PARTITION BY n_name ORDER BY o_year) AS prev_c
           FROM r)
         SELECT n_name, o_year,
           round(CAST(rev_c AS DOUBLE) / 100.0, 2) AS revenue,
           round(CAST(rev_c - prev_c AS DOUBLE) / CAST(prev_c AS DOUBLE), 6)
             AS yoy_growth
         FROM g""",
    "q_market_share" ->
      """WITH parts AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
         supp AS (SELECT s_suppkey,
             CASE WHEN n_name = 'NATION_3' THEN 1 ELSE 0 END AS is_target
           FROM supplier JOIN nation ON s_nationkey = n_nationkey),
         cust AS (SELECT c_custkey FROM customer
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'ASIA'),
         f AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
               AS BIGINT) AS cents,
             is_target
           FROM lineitem JOIN parts ON l_partkey = p_partkey
           JOIN supp ON l_suppkey = s_suppkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN cust ON o_custkey = c_custkey)
         SELECT o_year,
           round(CAST(sum(cents * is_target) AS DOUBLE) /
             CAST(sum(cents) AS DOUBLE), 6) AS mkt_share
         FROM f GROUP BY 1""",
    "q_delay_split" ->
      """WITH f AS (SELECT
             CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
                  WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'NORMAL'
                  ELSE 'SLOW' END AS delay_bucket,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0
               END AS hi
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01')
         SELECT delay_bucket, CAST(sum(hi) AS BIGINT) AS high_line_count,
           CAST(sum(1 - hi) AS BIGINT) AS low_line_count
         FROM f GROUP BY 1""",
    "q_parts_suppliers" ->
      """SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""",
    "q_promo_suppliers" ->
      """WITH f AS (SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_type = 'SMALL'
             AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
           GROUP BY 1, 2),
         tot AS (SELECT l_partkey AS pk, CAST(sum(qty) AS BIGINT) AS tot
           FROM f GROUP BY 1),
         win AS (SELECT DISTINCT l_suppkey FROM f
           JOIN tot ON l_partkey = pk WHERE qty * 100 > tot * 2)
         SELECT s_suppkey, s_name FROM win
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_2'""",
    "q_revenue_percentile" ->
      """WITH pc AS (SELECT l_partkey,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
             AS BIGINT)) AS BIGINT) AS c
           FROM lineitem GROUP BY 1)
         SELECT p_type, l_partkey, CAST(c AS DOUBLE) / 100.0 AS revenue,
           round(percent_rank() OVER (PARTITION BY p_type ORDER BY c), 6)
             AS pct_rank,
           round(cume_dist() OVER (PARTITION BY p_type ORDER BY c), 6) AS cume
         FROM pc JOIN part ON p_partkey = l_partkey""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""",
    "q_union" ->
      """SELECT c_custkey AS key FROM customer WHERE c_acctbal < 0
         UNION
         SELECT o_custkey AS key FROM orders WHERE o_totalprice > 400000""",
    "q_salted_join" ->
      """SELECT c.c_mktsegment AS city, round(sum(o.o_totalprice), 4) AS total_purchase,
         count(*) AS n
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_mktsegment""",
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
         coalesce(l_linestatus, 'ALL') AS l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
         coalesce(l_linestatus, 'ALL') AS l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
    // RANGE frame on the integer day: calendar gaps SHRINK the window
    // (value offsets), unlike the ROWS moving average
    "q_trailing_revenue" ->
      """WITH d AS (SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
           FROM orders GROUP BY 1)
         SELECT day, rev_c,
           CAST(sum(rev_c) OVER (ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rev7_c
         FROM d""",
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
         coalesce(l_linestatus, 'ALL') AS l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q_moving_avg" ->
      """WITH d AS (SELECT o_orderdate AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
           FROM orders GROUP BY 1)
         SELECT day, rev_c,
           CAST(sum(rev_c) OVER w AS DOUBLE) / (count(*) OVER w * 100.0) AS ma3
         FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    "q_agg_extras" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         round(stddev_samp(l_extendedprice), 4) AS sd_price,
         round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
         FROM lineitem GROUP BY l_returnflag""",
    "q_by_month" ->
      """SELECT EXTRACT(YEAR FROM o_orderdate) AS y, EXTRACT(MONTH FROM o_orderdate) AS m,
         count(*) AS n, round(sum(o_totalprice), 4) AS revenue
         FROM orders GROUP BY 1, 2""",
    "q_string_funcs" ->
      """SELECT c_custkey, upper(substr(c_name, 1, 8)) AS prefix,
         length(c_name) AS name_len,
         concat_ws('-', c_mktsegment, c_nationkey) AS seg_nation,
         regexp_replace(c_name, '[aeiou]', '', 'g') AS devoweled
         FROM customer""",
    "q_big_spenders" ->
      """WITH spend AS (SELECT o_custkey, round(sum(o_totalprice), 4) AS spend
           FROM orders GROUP BY o_custkey),
         thr AS (SELECT round(sum(spend), 4) / count(*) * 1.5 AS thr FROM spend)
         SELECT s.o_custkey, s.spend FROM spend s, thr WHERE s.spend > thr.thr""",
    "q_pivot" ->
      """SELECT o_orderpriority,
         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
         FROM orders GROUP BY o_orderpriority""",
    "q_correlated" ->
      """SELECT p.p_brand, round(sum(l1.l_extendedprice), 4) AS revenue,
                count(*) AS n_small
         FROM lineitem l1 JOIN part p ON p.p_partkey = l1.l_partkey
         WHERE p.p_size <= 5
           AND l1.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = l1.l_partkey)
         GROUP BY p.p_brand""",
    "q_set_ops" ->
      """SELECT o_custkey, 'both' AS set_op FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
         UNION ALL
         SELECT o_custkey, 'only_first' AS set_op FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')""",
    "q_decay_trend" ->
      """WITH mx AS (SELECT max(o_orderdate) AS max_d FROM orders),
         r AS (SELECT o_orderkey, date_diff('day', o_orderdate, max_d) // 7 AS w
           FROM orders, mx WHERE date_diff('day', o_orderdate, max_d) // 7 < 12),
         j AS (SELECT l.l_partkey, r.w,
             CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
           FROM r JOIN lineitem l ON l.l_orderkey = r.o_orderkey),
         s AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(cents * (CAST(1 AS BIGINT) << CAST(11 - w AS INTEGER)))
               AS BIGINT) AS score_scaled
           FROM j GROUP BY l_partkey)
         SELECT l_partkey, n_items, CAST(score_scaled AS DOUBLE) / 204800.0 AS score
         FROM s ORDER BY score_scaled DESC, l_partkey LIMIT 20""",
    "q_profile" ->
      """SELECT 'event_id' AS column, CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT event_id) AS n_distinct,
           CAST(min(event_id) AS VARCHAR) AS min_s, CAST(max(event_id) AS VARCHAR) AS max_s FROM events
         UNION ALL
         SELECT 'user_id', CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT user_id), CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM events
         UNION ALL
         SELECT 'event_type', CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT event_type), min(event_type), max(event_type) FROM events
         UNION ALL
         SELECT 'props', CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT props), min(props), max(props) FROM events""",
    "q_quantile_profile" ->
      """SELECT count(value) AS n, count(DISTINCT value) AS n_distinct,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99
         FROM events""",
  )

  // ---- x1: sampling, splits and data mixtures ----
  private def x1: Map[String, String] = Map(
    "x1_sample_split" ->
      """SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS pct,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
         FROM documents""",
    "x1_mixture" ->
      """SELECT doc_id, source,
           CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 ELSE 0.25 END AS frac
         FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
           < CAST(CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 ELSE 0.25 END
                  * 1000000 AS BIGINT)""",
    "x1_temperature" ->
      ("""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         m AS (SELECT min(n_docs) AS n_min FROM c),
         r AS (SELECT source,
             """ + temperatureWeight + """ AS frac FROM c, m)
         SELECT d.doc_id, d.source, r.frac
         FROM documents d JOIN r ON r.source = d.source
         WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
           < CAST(r.frac * 1000000 AS BIGINT)"""),
    "x1_kfold" ->
      ("""WITH f AS (SELECT
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5
               AS fold,
             source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             n_chars
           FROM documents)""" + kfoldBalance + """
         FROM f GROUP BY 1"""),
    // per-source pow weight quantized to int BEFORE the total (a float
    // sum of pow values would be fold-order-dependent); shares are one
    // division each; epochs is the ratio of the ROUNDED shares
    "x1_epoch_plan" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         w AS (SELECT source, n_docs, n_tokens,
             CAST(floor(power(CAST(n_tokens AS DOUBLE), 0.5) * 1000000 + 0.5)
               AS BIGINT) AS w6 FROM c),
         t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
             CAST(sum(w6) AS BIGINT) AS tot_w6 FROM w),
         s AS (SELECT source, n_docs, n_tokens,
             round(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE), 6)
               AS natural_share,
             round(CAST(w6 AS DOUBLE) / CAST(tot_w6 AS DOUBLE), 6)
               AS target_share
           FROM w, t)
         SELECT source, n_docs, n_tokens, natural_share, target_share,
           round(target_share / natural_share, 4) AS epochs
         FROM s""",
    // the x1_temperature thin rolled up against the doc-count n^alpha
    // target
    "x1_mixture_audit" ->
      ("""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             FROM documents GROUP BY source),
         m AS (SELECT min(n_docs) AS n_min FROM c),
         r AS (SELECT source,
             """ + temperatureWeight + """ AS frac FROM c, m),
         kd AS (SELECT d.source FROM documents d JOIN r ON r.source = d.source
           WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
             < CAST(r.frac * 1000000 AS BIGINT)),
         k AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept FROM kd GROUP BY 1),
         j AS (SELECT c.source, c.n_docs, coalesce(k.n_kept, 0) AS n_kept,
             CAST(floor(power(CAST(c.n_docs AS DOUBLE), 0.5) * 1000000 + 0.5)
               AS BIGINT) AS w6
           FROM c LEFT JOIN k ON k.source = c.source),
         t AS (SELECT CAST(sum(n_kept) AS BIGINT) AS tot_kept,
             CAST(sum(w6) AS BIGINT) AS tot_w6 FROM j),
         z AS (SELECT source, n_docs, n_kept,
             round(CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS keep_rate,
             round(CAST(n_kept AS DOUBLE) / CAST(tot_kept AS DOUBLE), 6)
               AS achieved_share,
             round(CAST(w6 AS DOUBLE) / CAST(tot_w6 AS DOUBLE), 6) AS target_share
           FROM j, t)
         SELECT source, n_docs, n_kept, keep_rate, achieved_share, target_share,
           round(achieved_share - target_share, 6) AS miss
         FROM z"""),
    "x1_pack_shards" ->
      """SELECT doc_id, source, n_tokens,
         CAST((cum - n_tokens) // 500 AS BIGINT) AS shard FROM (
           SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(sum(len(string_split(text, ' '))) OVER (PARTITION BY source
               ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM documents)""",
    "x1_curriculum" ->
      ("""WITH q AS (SELECT doc_id, source, round(""" + qualityScoreFromDocs + """
         r AS (SELECT doc_id, source, quality, row_number() OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id) AS rank FROM q),
         t AS (SELECT * FROM r WHERE rank <= 100),
         s AS (SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT)
             AS src_idx FROM (SELECT DISTINCT source FROM t)),
         n AS (SELECT count(*) AS n_src FROM s)
         SELECT t.doc_id, t.source, t.quality,
           CAST((t.rank - 1) * n.n_src + s.src_idx - 1 AS BIGINT) AS global_pos
         FROM t JOIN s ON t.source = s.source, n"""),
    "x1_pack_contexts" ->
      """WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum
           FROM d),
         x AS (SELECT doc_id, n_tokens, cum, cum - n_tokens AS strt,
             unnest(generate_series((cum - n_tokens) // 128, (cum - 1) // 128))
               AS ctx_id
           FROM c)
         SELECT doc_id, ctx_id,
           greatest(0, ctx_id * 128 - strt) AS tok_from,
           least(n_tokens, (ctx_id + 1) * 128 - strt) AS tok_to,
           least(n_tokens, (ctx_id + 1) * 128 - strt)
             - greatest(0, ctx_id * 128 - strt) AS n_ctx_tokens
         FROM x""",
    "x1_source_cap" ->
      """SELECT doc_id, source, rn FROM (
           SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source
             ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                      doc_id) AS BIGINT) AS rn
           FROM documents) WHERE rn <= 15""",
    "x1_budget_select" ->
      ("""WITH q AS (SELECT doc_id,
             round(
               """ + qualityLengthTerm + """ +
               0.3 * (len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) /
                      CAST(len(string_split(text,' ')) AS DOUBLE)) +
               0.3 * (1.0 - length(regexp_replace(text, '[a-z ]', '', 'g')) /
                      CAST(greatest(length(text), 1) AS DOUBLE)), 6) AS quality,
             CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, quality, n_tokens,
             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM q)
         SELECT doc_id, quality, n_tokens, CAST(cum AS BIGINT) AS cum
         FROM c WHERE cum - n_tokens < 10000"""),
    "x1_first_event" ->
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             ORDER BY ts, event_id) AS rn FROM events) WHERE rn = 1""",
    "x1_fingerprint_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY md5(text)""",
    "x1_epoch_shuffle" ->
      """WITH k AS (SELECT CAST(ep.epoch AS BIGINT) AS epoch, d.doc_id,
             CAST(('0x' || substr(md5(CAST(ep.epoch AS VARCHAR) || ':' ||
               CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS key
           FROM documents d, (SELECT unnest(range(3)) AS epoch) ep)
         SELECT epoch, doc_id,
           CAST(row_number() OVER (PARTITION BY epoch ORDER BY key, doc_id) AS BIGINT) AS pos
         FROM k""",
    // leakage-safe split: the x4_cluster chain through l3 + the
    // x1_sample_split md5-pct thresholds keyed on the CLUSTER id instead
    // of doc_id
    "x1_grouped_split" ->
      (clusterTkToL3Last + """
         SELECT doc_id, cluster,
           CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS pct,
           CASE WHEN CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM l3"""),
    // leakage-safe k-fold: the x4_cluster chain through l3 + fold =
    // md5-hash(cluster) mod 5 + the x1_kfold balance-report tail
    "x1_grouped_kfold" ->
      (clusterTkToL3 + """
         f AS (SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS fold
           FROM l3),
         j AS (SELECT f.fold, d.source,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, d.n_chars
           FROM f JOIN documents d ON d.doc_id = f.doc_id)""" + kfoldBalance + """
         FROM j GROUP BY 1"""),
    // the x4_cluster chain plus the x1_sample_split hash assignment,
    // histogrammed by the split-set signature of each cluster; a comma in
    // `splits` = leakage
    "x1_time_split" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
         s AS (SELECT min(day) + (max(day) - min(day)) * 4 // 5 AS split_day FROM d),
         t AS (SELECT d.day, d.user_id, d.day < s.split_day AS is_train FROM d, s),
         ev AS (SELECT
             CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS n_test
           FROM t),
         uu AS (SELECT user_id,
             max(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_train,
             max(CASE WHEN is_train THEN 0 ELSE 1 END) AS in_test
           FROM t GROUP BY user_id),
         us AS (SELECT CAST(sum(in_train) AS BIGINT) AS n_train_users,
             CAST(sum(in_test) AS BIGINT) AS n_test_users,
             CAST(sum(CASE WHEN in_train = 1 AND in_test = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_cross_users
           FROM uu)
         SELECT s.split_day, ev.n_train, ev.n_test, us.n_train_users,
           us.n_test_users, us.n_cross_users,
           round(CAST(us.n_cross_users AS DOUBLE) /
             CAST(us.n_train_users AS DOUBLE), 6) AS cross_frac
         FROM s, ev, us""",
    "x1_split_leakage" ->
      (clusterTkToL3 + """
         sp AS (SELECT doc_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM documents),
         cl AS (SELECT l3.cluster,
             array_to_string(list_sort(list_distinct(list(split))), ',') AS splits,
             count(*) AS n_docs
           FROM l3 JOIN sp ON sp.doc_id = l3.doc_id GROUP BY 1)
         SELECT splits, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_docs) AS BIGINT) AS n_docs
         FROM cl GROUP BY 1"""),
    "x1_systematic_sample" ->
      """WITH d AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM documents),
         c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER (
             ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum
           FROM d)
         SELECT doc_id, n_tokens, cum,
           (cum // 997) - ((cum - n_tokens) // 997) AS n_ticks
         FROM c WHERE (cum // 997) > ((cum - n_tokens) // 997)""",
    "x1_weighted_sample" ->
      """WITH s AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 2147483647 AS h
           FROM documents)
         SELECT doc_id, n_tokens,
           CAST(floor(ln((h + 1) / 2147483647.0) / n_tokens * 1e6 + 0.5)
             AS BIGINT) AS lk6
         FROM s ORDER BY lk6 DESC, doc_id LIMIT 20""",
    // release-split balance audit: the FULL x7_curate_split oracle as the
    // `man` CTE + the per-split docs/tokens/sources/achieved-pct tail
    "x1_split_audit" ->
      (curateSplitKeep1ToL3 + """
           ON m.doc_id = l.doc_id),
         man AS (SELECT l3.doc_id, l3.cluster,""" + curateSplitColumns + """
         FROM l3 JOIN d3 d ON d.doc_id = l3.doc_id),
         ag AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
           FROM man GROUP BY 1),
         tot AS (SELECT CAST(sum(sum_tokens) AS BIGINT) AS tot_tokens FROM ag)
         SELECT split, n_docs, sum_tokens, n_sources,
           round(CAST(sum_tokens AS DOUBLE) / tot_tokens, 6) AS token_pct
         FROM ag, tot"""),
    "x1_heavy_hitters" ->
      """WITH c AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
             FROM events GROUP BY user_id),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys FROM c)
         SELECT key, n,
           round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
           round(CAST(n AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(total AS DOUBLE), 4) AS skew
         FROM c, t ORDER BY n DESC, key ASC LIMIT 20""",
  )

  // ---- x2: vector search and its audits ----
  private def x2: Map[String, String] = Map(
    "x2_ann_diverse" ->
      """WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
         n AS (SELECT vec_id, label, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),
         s AS (SELECT q.vec_id AS q_id, t.label, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n q, n t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id),
         c AS (SELECT q_id, label, n_id, cos, row_number() OVER (PARTITION BY
             q_id, label ORDER BY cos DESC, n_id) AS lr FROM s),
         r AS (SELECT q_id, label, n_id, cos, row_number() OVER (PARTITION BY
             q_id ORDER BY cos DESC, n_id) AS rank FROM c WHERE lr = 1)
         SELECT q_id, label, n_id, round(cos, 6) AS cos,
           CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 5""",
    "x2_ann_topk" ->
      (embeddingEToN + """
         s AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n q, n t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id),
         r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM s)
         SELECT q_id, n_id, round(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 5"""),
    // cosine RANGE search: every neighbor above the rounded-cosine
    // radius (the FAISS range_search semantics; set-valued output)
    "x2_range_search" ->
      (embeddingEToN + """
         s AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             round(list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm), 6) AS cos
           FROM n q, n t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id)
         SELECT q_id, n_id, cos FROM s WHERE cos >= 0.25"""),
    "x2_mips_topk" ->
      (embeddingsE + """
         s AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,""" + mipsBruteDp + """,
         r AS (SELECT q_id, n_id, dp, row_number() OVER (PARTITION BY q_id
             ORDER BY dp DESC, n_id) AS rank FROM s)
         SELECT q_id, n_id, round(dp, 6) AS dp, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 5"""),
    // the norm-augmented LSH chain: the x2_ann_lsh plane formula lifted
    // to dim 65 over the UNSCALED augmentation [v, sqrt(M^2 - |v|^2)]
    // (query lift appends 0) — sign hashes are scale-invariant, so the
    // unscaled lift buckets identically to the unit-norm reduction
    "x2_mips_lsh" ->
      (mipsEToR + """
             ORDER BY dp DESC, n_id) AS rank FROM s)
         SELECT q_id, n_id, round(dp, 6) AS dp, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3"""),
    // the x2_mips_lsh mm..r chain followed by the brute-force sb/rb chain
    // + overlap
    "x2_mips_recall" ->
      (mipsEToR + """
             ORDER BY dp DESC, n_id) AS rank FROM s),""" + mipsSbToOvOpen + """
           FROM (SELECT q_id, n_id FROM rb WHERE rank <= 3) b
           LEFT JOIN (SELECT q_id, n_id FROM r WHERE rank <= 3) l
             ON l.q_id = b.q_id AND l.n_id = b.n_id)
         SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
           round(CAST(CAST(sum(hit) AS BIGINT) AS DOUBLE) / 3.0, 4) AS recall
         FROM ov GROUP BY q_id"""),
    "x2_cosine_pairs" ->
      (embeddingsE + """
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]),
             (x,y) -> x+y) / (a.nrm * b.nrm), 6) AS cos
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         ORDER BY cos DESC, a_id, b_id LIMIT 20"""),
    "x2_ann_filtered" ->
      ("""WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),""" + filteredNToQp + """
           FROM bb, (SELECT """ + lshProbeMasks + """) WHERE vec_id < 20),""" +
      filteredCandToTop3),
    // filtered recall: the labeled e/n head + a brute chain RESTRICTED to
    // the query's label (the filtered ground truth) + x2_ann_filtered's
    // bb..r labeled chain
    "x2_filtered_recall" ->
      (filteredEToBb + """
         qp AS (SELECT vec_id, label, tt, xor(bucket, fl) AS bucket
           FROM bb, (SELECT """ + lshProbeMasks + """) WHERE vec_id < 20),""" +
      filteredCandToApprox),
    // filtered ranking audit: the filtered brute head e..xr + the labeled
    // bb + qp..r chains, keeping RANKS on both sides; graded recall
    // normalizes by the query's OWN max gain (sum of 4 - e.rank over its
    // exact rows)
    "x2_filtered_rank_quality" ->
      (filteredEToXr + filteredExactToQp + """
           FROM bb, (SELECT """ + lshProbeMasks + """) WHERE vec_id < 20),""" +
      filteredCandToRankedApprox),
    // labeled occupancy pre-flight: the labeled e/n head + bb chain rolled
    // up per (table, label)
    "x2_filtered_bucket_stats" ->
      ("""WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),""" + filteredNToG),
    // filtered probe-budget curve: x2_filtered_recall's e..exact head +
    // the labeled bb CTE; the qp probe CTE adds the mask INDEX (zipped
    // unnest), candidates keep their cheapest discovery, the curve is a
    // conditional count
    "x2_filtered_probe_curve" ->
      (filteredEToBb + """
         qp AS (SELECT vec_id, label, tt, xor(bucket, fl) AS bucket, idx
           FROM bb, (SELECT """ + lshProbeMasksIdx + """) WHERE vec_id < 20),""" + filteredCmToJ),
    "x2_recall" ->
      (recallEToBb + """
         qp AS (SELECT vec_id, tt, xor(bucket, fl) AS bucket
           FROM bb, (SELECT """ + lshProbeMasks + """) WHERE vec_id < 20),""" +
      recallCandToApprox),
    // probe-budget curve: x2_recall's brute e..exact head + bb bucket CTE;
    // the qp probe CTE adds the mask INDEX (zipped unnest), candidates
    // keep their cheapest discovery, the curve is a conditional count per
    // budget
    "x2_probe_curve" ->
      (recallEToBb + """
         qp AS (SELECT vec_id, tt, xor(bucket, fl) AS bucket, idx
           FROM bb, (SELECT """ + lshProbeMasksIdx + """) WHERE vec_id < 20),""" + probeCurveCmToJ),
    // ranking-quality audit: x2_recall's brute + LSH chains, keeping RANKS
    // on both sides; graded recall weights hits by exact rank (gains
    // 3/2/1, /6), mrr = 1/min approx rank holding an exact top-3 item
    "x2_rank_quality" ->
      (recallEToXr + """
         exact AS (SELECT q_id, n_id, rank FROM xr WHERE rank <= 3),""" + lshBbToS + """
         r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id""" + rankQualityApprox),
    "x2_ann_lsh" ->
      (lshEToS + """
         r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM s)
         SELECT q_id, n_id, round(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3"""),
    // bucketed radius search: the x2_ann_lsh bucket/candidate chain + the
    // rounded-cosine range filter instead of the top-k window
    "x2_range_lsh" ->
      (lshEToS + """
         f AS (SELECT q_id, n_id, round(cos, 6) AS cos FROM s)
         SELECT q_id, n_id, cos FROM f WHERE cos >= 0.25"""),
    // radius recall audit: the x2_range_lsh bucket/candidate/f chain + a
    // brute radius leg (bs/rex, the x2_range_search scored stream under
    // different CTE names) + the per-query hit-count tail; queries with an
    // empty radius set report NULL recall
    "x2_range_recall" ->
      (lshEToS + """
         f AS (SELECT q_id, n_id, round(cos, 6) AS cos FROM s),
         app AS (SELECT q_id, n_id, 1 AS hit FROM f WHERE cos >= 0.25),
         bs AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             round(list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm), 6) AS cos
           FROM n q, n t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id),
         rex AS (SELECT q_id, n_id FROM bs WHERE cos >= 0.25),
         g AS (SELECT rex.q_id, CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS n_found
           FROM rex LEFT JOIN app a ON a.q_id = rex.q_id AND a.n_id = rex.n_id
           GROUP BY rex.q_id)
         SELECT qq.vec_id AS q_id,
           CAST(coalesce(g.n_true, 0) AS BIGINT) AS n_true,
           CAST(coalesce(g.n_found, 0) AS BIGINT) AS n_found,
           CASE WHEN coalesce(g.n_true, 0) > 0
             THEN round(CAST(g.n_found AS DOUBLE) / g.n_true, 4) END AS recall
         FROM (SELECT vec_id FROM e WHERE vec_id < 20) qq
         LEFT JOIN g ON g.q_id = qq.vec_id"""),
    "x2_bucket_stats" ->
      (embeddingsE + lshBbToG),
    "x2_ann_ivf" ->
      (ivfEToQ + """
         s AS (SELECT q.q_id, t.vec_id AS n_id, t.cell AS cell,
             list_reduce(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]*t.v[i]),
               (x,y) -> x+y) / (q.qn * t.nrm) AS cos
           FROM asg t JOIN q ON t.cell = q.cell AND t.vec_id <> q.q_id),
         r AS (SELECT q_id, n_id, cell, cos, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM s)
         SELECT q_id, n_id, cell, round(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3"""),
    // the composed IVF x SQ oracle: the x2_ann_ivf training/assignment
    // chain through prb + the x2_quantize sc/qq encode chain + SQ ADC
    // scoring on probed cells
    "x2_ann_ivfsq" ->
      (embeddingsE + ivfsqSearchChain),
    // residual IVF x SQ: the IVF chain + x2_ann_ivfpq_res's slim rk/asg
    // head, resv residual frame, and pbr/pb/qres probe head + an int8
    // encode of the residuals on BOTH sides; ranking = estimated residual
    // L2 (exact int dots + exact dyadic ||qr||^2; the scale products are
    // the only rounding IEEE ops, fixed operand order)
    "x2_ann_ivfsq_res" ->
      (embeddingsE + ivfsqResSearchChain),
    // IVF x SQ recall audit: x2_ann_ivfsq_res's FULL chain (IVF training +
    // residual frame/encode/estimate through srr) + a raw-code L2 leg over
    // the SAME rivfc candidates (x2_quantize's sc/qq encode chain + the
    // asymmetric L2 estimate with the exact query norm) +
    // x2_ivfpq_recall's exact ground-truth chain (xn..ex) and hits tail.
    // Holding the metric (L2) and (nCells, nProbe) fixed isolates
    // raw-vs-residual encoding as the only variable.
    "x2_ivfsq_recall" ->
      (embeddingsE + ivfsqRecallChain),
    "x2_ivf_recall" ->
      (ivfEToQ + """
         s AS (SELECT q.q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]*t.v[i]),
               (x,y) -> x+y) / (q.qn * t.nrm) AS cos
           FROM asg t JOIN q ON t.cell = q.cell AND t.vec_id <> q.q_id),
         r AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM s),
         ivf AS (SELECT q_id, n_id FROM r WHERE rank <= 3),""" + ivfBsToBr + """
         ex AS (SELECT q_id, n_id FROM br WHERE rank <= 3)
         SELECT ex.q_id, CAST(sum(CASE WHEN ivf.n_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           round(CAST(sum(CASE WHEN ivf.n_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) / 3.0, 4) AS recall
         FROM ex LEFT JOIN ivf ON ivf.q_id = ex.q_id AND ivf.n_id = ex.n_id
         GROUP BY ex.q_id"""),
    // IVF probe curve: x2_ivf_recall's full training chain e..asg and its
    // brute bs/br/ex ground truth; the budget that first reaches an exact
    // neighbor is the rank (ar) of its cell in the query's centroid order,
    // so the curve is one conditional count per budget
    "x2_ivf_probe_curve" ->
      (ivfEToAsg + """
         cr AS (SELECT vec_id AS q_id, c_id AS cell, ar FROM rk WHERE vec_id < 20),""" + ivfBsToBr +
      """
         ex AS (SELECT q_id, n_id FROM br WHERE rank <= 3),
         cm AS (SELECT ex.q_id, ex.n_id, cr.ar FROM ex
           JOIN asg t ON t.vec_id = ex.n_id
           JOIN cr ON cr.q_id = ex.q_id AND cr.cell = t.cell)
         SELECT CAST(p AS BIGINT) AS n_probes, CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN ar <= p THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(CAST(sum(CASE WHEN ar <= p THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(count(*) AS DOUBLE), 4) AS recall
         FROM cm, (SELECT unnest([1, 2, 3, 4]) AS p)
         GROUP BY p"""),
    "x2_mean_pool" ->
      ("""WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
         d AS (SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM e)
         SELECT label, CAST(pos AS BIGINT) AS pos,
           """ + classMeanVal + """
         FROM d GROUP BY label, pos"""),
    "x2_confusion" ->
      ("""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
         n AS (SELECT vec_id, label, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),
         d AS (SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM e),
         s AS (SELECT label AS c_id, pos, """ + classMeanVal + """
           FROM d GROUP BY 1, 2),
         m AS (SELECT c_id, list(val ORDER BY pos) AS cv FROM s GROUP BY c_id),
         k AS (SELECT c_id, cv,
             sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y)) AS cn FROM m),
         r AS (SELECT t.vec_id, t.label, k.c_id,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                 """ + ivfArgmaxCosine + """
             FROM n t, k)
         SELECT label, c_id AS predicted, CAST(count(*) AS BIGINT) AS n
         FROM r WHERE ar = 1 GROUP BY label, predicted"""),
    "x2_knn_accuracy" ->
      (knnEToS + """
           FROM n q, n t WHERE t.vec_id <> q.vec_id),""" + knnRToJ),
    // x2_knn_accuracy's chain with ONE added predicate: the QUERY side
    // shrinks to the deterministic 37% vec-id hash sample while every
    // sampled query still votes over the full corpus
    "x2_knn_sampled" ->
      (knnEToS + """
           FROM n q, n t WHERE t.vec_id <> q.vec_id
             AND CAST(('0x' || substr(md5(CAST(q.vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 < 37),""" + knnRToJ),
    "x2_margin_pairs" ->
      (embeddingsE + marginNToP + """
         FROM p WHERE cos + c2 > 0 AND round(cos * 2 / (cos + c2), 6) >= 1.05"""),
    "x2_ivf_assign" ->
      (ivfEToRk + """
             FROM n t, k2 k)
         SELECT vec_id, c_id AS cell FROM rk WHERE ar = 1"""),
    "x2_semdedup" ->
      (ivfEToAsg + """
         pr AS (SELECT b.vec_id, b.cell, a.vec_id AS keep_id,
             round(list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]),
               (x,y) -> x+y) / (a.nrm * b.nrm), 6) AS cos
           FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         dup AS (SELECT vec_id, cell, keep_id, cos,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, keep_id) AS rk2
           FROM pr WHERE cos >= 0.38)
         SELECT vec_id, cell, keep_id AS dup_of, cos FROM dup WHERE rk2 = 1"""),
    "x2_ivf_inertia" ->
      (ivfInertiaEToRk + """
         w AS (SELECT c_id AS cell, CAST(floor(sc * 1000000 + 0.5) AS BIGINT) AS q
             FROM rk WHERE ar = 1)
         SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(q) AS DOUBLE) / (count(*) * 1000000.0) AS mean_cos
         FROM w GROUP BY cell"""),
    "x2_ood" ->
      (ivfInertiaEToRk + """
         w AS (SELECT vec_id, c_id AS cell,
             CAST(floor(sc * 1000000 + 0.5) AS BIGINT) AS q6
             FROM rk WHERE ar = 1),
         w4 AS (SELECT vec_id, cell, q6, q6 // 100 AS q4 FROM w),
         st AS (SELECT cell, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(q4) AS BIGINT) AS s, CAST(sum(q4 * q4) AS BIGINT) AS qq
           FROM w4 GROUP BY 1)
         SELECT vec_id, cell, CAST(q6 AS DOUBLE) / 1000000.0 AS cos_to_centroid,
           round(CAST(q4 * c - s AS DOUBLE) /
             sqrt(CAST(qq * c - s * s AS DOUBLE)), 4) AS z,
           (round(CAST(q4 * c - s AS DOUBLE) /
             sqrt(CAST(qq * c - s * s AS DOUBLE)), 4) <= -2.0) AS is_outlier
         FROM w4 JOIN st USING (cell) WHERE qq * c - s * s > 0"""),
    "x2_incremental" ->
      (embeddingEToN + lshBb + """
         cand AS (SELECT DISTINCT i.vec_id, x.vec_id AS match_id
           FROM bb i JOIN bb x ON i.tt = x.tt AND i.bucket = x.bucket
           WHERE i.vec_id < 100 AND x.vec_id >= 100),
         s AS (SELECT c.vec_id, c.match_id,
             round(list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm), 6) AS cos
           FROM cand c JOIN n q ON q.vec_id = c.vec_id
             JOIN n t ON t.vec_id = c.match_id),
         f AS (SELECT vec_id, match_id, cos, row_number() OVER (PARTITION BY vec_id
             ORDER BY cos DESC, match_id) AS rk FROM s WHERE cos >= 0.38)
         SELECT vec_id, match_id, cos FROM f WHERE rk = 1"""),
    "x2_centroids" ->
      (embeddingsE + ivfNToC2 + """
             FROM c1 LEFT JOIN u2 ON u2.cell = c1.c_id)
         SELECT c_id, CAST(pos AS BIGINT) AS pos, round(val, 6) AS val
         FROM (SELECT c_id, generate_subscripts(cv, 1) AS pos, unnest(cv) AS val
               FROM c2) x"""),
    "x2_pq_codebook" ->
      (embeddingsE + pqSvToC2 + """
           FROM c1 LEFT JOIN u2 ON u2.sub = c1.sub AND u2.code = c1.code)
         SELECT CAST(sub AS BIGINT) AS sub, code, CAST(pos AS BIGINT) AS pos,
           round(val, 6) AS val
         FROM (SELECT sub, code, generate_subscripts(cv, 1) AS pos, unnest(cv) AS val
               FROM c2) x"""),
    "x2_pq_codes" ->
      (embeddingsE + pqCodesChain),
    "x2_pq_distortion" ->
      (embeddingsE + pqSvToK2 + """
         r3 AS (SELECT q.vec_id, q.sub,
             """ + pqPartialDistance + """
               (x,y) -> x+y) + c.cn2 AS dist
           FROM sn q JOIN k2 c ON c.sub = q.sub),
         md AS (SELECT vec_id, sub,
             CAST(floor(min(dist) * 1000000 + 0.5) AS BIGINT) AS q
           FROM r3 GROUP BY vec_id, sub)
         SELECT CAST(sub AS BIGINT) AS sub, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(q) AS DOUBLE) / (count(*) * 1000000.0) AS mean_dist,
           CAST(max(q) AS DOUBLE) / 1000000.0 AS max_dist
         FROM md GROUP BY sub"""),
    "x2_ann_pq" ->
      (embeddingsE + pqSearchChain),
    // flat-ADC recall gate: the FULL x2_ann_pq chain (train/encode/
    // LUT/ADC rank) kept through r, + the composed gates' exact-L2 xn..ex
    // head + a single-leg hit rollup
    "x2_pq_recall" ->
      (embeddingsE + pqRecallChain),
    "x2_ann_pq_rerank" ->
      (pqRerankEToFr + """
             ORDER BY dist, n_id) AS rank FROM rr)
         SELECT q_id, n_id, round(dist, 6) AS dist, CAST(rank AS BIGINT) AS rank
         FROM fr WHERE rank <= 3"""),
    // shortlist->rerank recall gate: the FULL x2_ann_pq_rerank chain kept
    // through fr + the exact-L2 xn..ex ground-truth head + the single-leg
    // rollup
    "x2_pq_rerank_recall" ->
      (pqRerankEToFr + """
             ORDER BY dist, n_id) AS rank FROM rr),
         ak AS (SELECT q_id, n_id FROM fr WHERE rank <= 3),""" + pqRecallXnToHits),
    "x2_ann_ivfpq" ->
      (embeddingsE + ivfpqSearchChain),
    // RESIDUAL IVF-PQ: the x2_ann_ivf IVF chain (e..k2/rk/asg) + the
    // dyadic residual frame (resv: floor((v - centroid)*2^20 + 0.5)/2^20,
    // the exactness device) + the r-prefixed PQ chain retargeted to
    // residuals + x2_ann_ivfpq's probe CTEs (pbr/pb) + the per-(query,
    // cell) residual LUT tail.
    "x2_ann_ivfpq_res" ->
      (embeddingsE + ivfpqResSearchChain),
    // IVF-PQ recall audit: BOTH compositions replayed against exact-L2
    // top-3 -- the IVF chain + x2_ann_ivfpq's raw p-chain and sc/fr tail +
    // x2_ann_ivfpq_res's resv/r-chain and rsc/rfr tail + a brute exact-L2
    // chain (xn/gs/gr/ex) + the x2_ivf_recall hit-count tail per leg.
    "x2_ivfpq_recall" ->
      (embeddingsE + ivfpqRecallChain),
    "x2_quantize" ->
      (embeddingsE + """
         sc AS (SELECT vec_id, v,""" + sqScaleToQqLast + """
         SELECT vec_id, round(scale, 6) AS scale,
           CAST(list_reduce(list_transform(q, x -> abs(x)), (a, b) -> a + b) AS BIGINT) AS q_l1,
           CAST(list_reduce(q, (a, b) -> a + b) AS BIGINT) AS q_sum,
           list_max(q) AS q_max
         FROM qq"""),
    // SQ int8 ADC search: the x2_quantize encode chain (e/sc/qq), then
    // rank by the asymmetric estimate ip·scale_q·scale_d. The int8 inner
    // product is an exact integer (≤ 2^20 at dim 64), so the only doubles
    // are the two scale factors in ONE fixed operand order.
    "x2_ann_sq" ->
      (sqEToROpen + """
             ORDER BY adot DESC, n_id) AS rank FROM s)
         SELECT q_id, n_id, round(adot, 6) AS adot, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 5"""),
    // binary sign-pack search: the b/s/r Hamming chain
    "x2_ann_binary" ->
      (binaryEToROpen + """
             ORDER BY hamming, n_id) AS rank FROM s)
         SELECT q_id, n_id, hamming, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 5"""),
    // binary shortlist (top-20 by Hamming, the b/s/r chain) ->
    // exact cosine rerank of only those pairs
    "x2_ann_binary_rerank" ->
      (binaryEToRr + """
             ORDER BY cos DESC, n_id) AS rank FROM ex)
         SELECT q_id, n_id, round(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
         FROM rr WHERE rank <= 5"""),
    // Hamming-shortlist -> exact-cosine rerank recall gate: the FULL
    // x2_ann_binary_rerank chain kept through rr (its n CTE already
    // carries the norms) + the x2_binary_recall brute cosine sb/rb chain +
    // the hit rollup
    "x2_binary_rerank_recall" ->
      (binaryEToRr + """
             ORDER BY cos DESC, n_id) AS rank FROM ex),
         ak AS (SELECT q_id, n_id FROM rr WHERE rank <= 5),""" + cosineSbToRb + """
         ov AS (SELECT b.q_id, b.n_id,
             CASE WHEN l.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM (SELECT q_id, n_id FROM rb WHERE rank <= 5) b
           LEFT JOIN ak l ON l.q_id = b.q_id AND l.n_id = b.n_id)
         SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
           round(CAST(CAST(sum(hit) AS BIGINT) AS DOUBLE) / 5.0, 4) AS recall
         FROM ov GROUP BY q_id"""),
    // binary recall audit: the SAME b/s/r Hamming chain + the exact
    // cosine brute-force chain as ground truth
    "x2_binary_recall" ->
      (binaryEToR + """
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),""" +
      cosineSbToRb + """
         ov AS (SELECT g.q_id, g.n_id,
             CASE WHEN l.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM (SELECT q_id, n_id FROM rb WHERE rank <= 5) g
           LEFT JOIN (SELECT q_id, n_id FROM r WHERE rank <= 5) l
             ON l.q_id = g.q_id AND l.n_id = g.n_id)
         SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
           round(CAST(CAST(sum(hit) AS BIGINT) AS DOUBLE) / 5.0, 4) AS recall
         FROM ov GROUP BY q_id"""),
    // two-stage SQ serve: the x2_ann_sq chain (e/sc/qq/s/r) proposes 20
    // candidates, then only those pairs rerank by the EXACT double dot
    // product.
    "x2_ann_sq_rerank" ->
      (sqEToRr + """
             ORDER BY dp DESC, n_id) AS rank FROM ex)
         SELECT q_id, n_id, round(dp, 6) AS dp, CAST(rank AS INTEGER) AS rank
         FROM rr WHERE rank <= 5"""),
    // int8-shortlist -> exact-dot rerank recall gate: the FULL
    // x2_ann_sq_rerank chain kept through rr + the x2_sq_recall brute MIPS
    // sb/rb chain + the hit rollup
    "x2_sq_rerank_recall" ->
      (sqEToRr + """
             ORDER BY dp DESC, n_id) AS rank FROM ex),
         ak AS (SELECT q_id, n_id FROM rr WHERE rank <= 5),""" + mipsSbToOv + """
           LEFT JOIN ak l ON l.q_id = b.q_id AND l.n_id = b.n_id)
         SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
           round(CAST(CAST(sum(hit) AS BIGINT) AS DOUBLE) / 5.0, 4) AS recall
         FROM ov GROUP BY q_id"""),
    // SQ recall audit: exact-MIPS ground truth (the x2_mips_recall sb/rb
    // brute-force chain) left-joined with the SQ top-5 (qs2/qr2 = the
    // x2_ann_sq scoring formula over the shared encode chain).
    "x2_sq_recall" ->
      (embeddingsE + sqScToQs2 + """
           FROM qq a, qq b WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id),
         qr2 AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY adot DESC, n_id) AS rank FROM qs2),""" + mipsSbToOv + """
           LEFT JOIN (SELECT q_id, n_id FROM qr2 WHERE rank <= 5) l
             ON l.q_id = b.q_id AND l.n_id = b.n_id)
         SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
           round(CAST(CAST(sum(hit) AS BIGINT) AS DOUBLE) / 5.0, 4) AS recall
         FROM ov GROUP BY q_id"""),
    // hybrid retrieval: the x2_ann_topk cosine chain (e2/n2/s2/r2 = its
    // e/n/s/r, copied verbatim modulo CTE names) and the x3_bm25_search
    // terms/dl/nd/dfs/idx chain with the query CTE swapped to doc_id < 20,
    // fused by integer RRF contributions floor(10^6/(60 + rank)).
    "x2_hybrid_rrf" ->
      ("""WITH e2 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
         n2 AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e2),
         s2 AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n2 q, n2 t WHERE q.vec_id < 20 AND t.vec_id <> q.vec_id),
         r2 AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM s2),
         terms AS (""" + bm25DlToQ + """
           WHERE doc_id < 20),""" + bm25HitToRk + """
             PARTITION BY q_id ORDER BY s6 DESC, doc_id) AS rank FROM sc),
         dr AS (SELECT q_id, n_id AS match_id, CAST(rank AS BIGINT) AS dense_rank
           FROM r2 WHERE rank <= 5),
         br AS (SELECT q_id, doc_id AS match_id, CAST(rank AS BIGINT) AS bm25_rank
           FROM rk WHERE rank <= 5),""" + hybridFuToFr),
    // ALL-stored hybrid: the x2_ann_sq encode chain (e/sc/qq) + its ADC
    // top-k (s/r, carries the shared asymmetric-estimate formula) as the
    // dense leg, the x3_bm25_search terms/dl/nd/dfs/idx chain with the
    // doc_id < 20 query CTE as the sparse leg (score CTEs renamed bsc/brk:
    // `sc` is taken by the SQ chain), fused by the same integer RRF tail
    // as x2_hybrid_rrf.
    "x2_hybrid_rrf_stored" ->
      (sqEToR + """
         terms AS (""" + bm25DlToIdx + """
         qt AS (SELECT DISTINCT doc_id AS q_id, token FROM terms
           WHERE doc_id < 20),
         hit AS (SELECT qt.q_id, i.doc_id,
             CAST(floor(i.idf6 * ((i.tf * 2.2::DOUBLE) /
               (i.tf + 1.2::DOUBLE * (0.25 + 0.75::DOUBLE * i.dl / i.avgdl)))
               + 0.5) AS BIGINT) AS c6
           FROM qt JOIN idx i ON i.token = qt.token AND i.doc_id <> qt.q_id
           WHERE i.idf6 > 0),
         bsc AS (SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_hit,
             CAST(sum(c6) AS BIGINT) AS s6
           FROM hit GROUP BY q_id, doc_id),
         brk AS (SELECT q_id, doc_id, n_hit, s6, row_number() OVER (
             PARTITION BY q_id ORDER BY s6 DESC, doc_id) AS rank FROM bsc),
         dr AS (SELECT q_id, n_id AS match_id, CAST(rank AS BIGINT) AS dense_rank
           FROM r WHERE rank <= 5),
         br AS (SELECT q_id, doc_id AS match_id, CAST(rank AS BIGINT) AS bm25_rank
           FROM brk WHERE rank <= 5),""" + hybridFuToFr),
    // per-dimension embedding health: quantize each element to 1e-4
    // units FIRST so the three moments are exact int64 in any fold
    // order; one rounded division each; the collapsed flag compares
    // the ROUNDED variance on both engines
    "x2_dim_stats" ->
      """WITH x AS (SELECT unnest(embedding) AS e,
             unnest(range(len(embedding))) AS dim FROM embeddings),
         q AS (SELECT CAST(dim AS BIGINT) AS dim,
             CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q FROM x),
         m AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s, CAST(sum(q*q) AS BIGINT) AS s2
           FROM q GROUP BY 1),
         v AS (SELECT dim, n, s,
             round(CAST(n*s2 - s*s AS DOUBLE) /
               (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 100000000.0), 6)
               AS variance
           FROM m)
         SELECT dim,
           round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0), 6) AS mean,
           variance,
           CAST(CASE WHEN variance < 0.0001 THEN 1 ELSE 0 END AS BIGINT)
             AS collapsed
         FROM v""",
    // row-wise norm z-audit: 1e-4-quantized norms, exact int64 global
    // moments, z = (n·q − S)/sqrt(n·Q − S²) (the x6_anomaly z form)
    "x2_norm_outliers" ->
      (embeddingsE + """
         nq AS (SELECT vec_id, CAST(floor(
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) * 10000
               + 0.5) AS BIGINT) AS nq
           FROM e),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(nq) AS BIGINT) AS s,
             CAST(sum(nq*nq) AS BIGINT) AS s2 FROM nq),
         z AS (SELECT vec_id, round(CAST(nq AS DOUBLE) / 10000.0, 4) AS norm,
             round(CAST(n*nq - s AS DOUBLE) /
               sqrt(CAST(n*s2 - s*s AS DOUBLE)), 4) AS z
           FROM nq, m WHERE n*s2 - s*s > 0)
         SELECT vec_id, norm, z,
           CAST(CASE WHEN abs(z) > 2.5 THEN 1 ELSE 0 END AS BIGINT) AS outlier
         FROM z"""),
  )

  // ---- x3: text statistics, language models and inverted indexes ----
  private def x3: Map[String, String] = Map(
    "x3_textstats" ->
      """SELECT doc_id, length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
         round((length(text) - (len(string_split(text, ' ')) - 1)) /
           CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len
         FROM documents""",
    "x3_bpe_tokens" ->
      """SELECT doc_id, len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
         AS n_bpe_tokens FROM documents""",
    "x3_langid" ->
      ("""WITH s AS (SELECT doc_id,""" + langidScores + """
         SELECT doc_id,""" + langidPred + """,
           s_en
         FROM s"""),
    "x3_langid_confusion" ->
      ("""WITH s AS (SELECT doc_id, lang,""" + langidScores + """,
         p AS (SELECT lang,""" + langidPred + """
           FROM s)
         SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2"""),
    "x3_quality" ->
      ("""SELECT doc_id, round(""" + qualityScore + """
         FROM documents"""),
    "x3_quality_deciles" ->
      ("""WITH q AS (SELECT source, round(""" + qualityScore + """
         FROM documents)
         SELECT source, least(CAST(floor(quality * 10) AS BIGINT), 9) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM q GROUP BY 1, 2"""),
    "x3_fingerprints" ->
      """SELECT doc_id, md5(text) AS fp_md5,
         list_reduce(list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)),
           (a, b) -> (a * 31 + b) % 9007199254740881) AS fp_roll
         FROM documents""",
    "x3_vocabulary" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token""",
    "x3_tfidf" ->
      (tfidfTermsToNd + """
         SELECT t.doc_id, t.token, t.tf,
           """ + tfidfScore + """
         FROM terms t JOIN dfs d ON t.token = d.token, nd"""),
    "x3_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct FROM t),
         b AS (SELECT doc_id,
             unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
           FROM t),
         c AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
         r AS (SELECT doc_id, bg, c, row_number() OVER (PARTITION BY doc_id
             ORDER BY c DESC, bg) AS rn FROM c)
         SELECT s.doc_id, s.n_tokens,
           round(1.0 - s.n_distinct / CAST(s.n_tokens AS DOUBLE), 6) AS dup_token_frac,
           r.bg AS top_bigram,
           round(r.c / CAST(s.n_tokens - 1 AS DOUBLE), 6) AS top_bigram_frac
         FROM s LEFT JOIN r ON r.doc_id = s.doc_id AND r.rn = 1""",
    "x3_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
         c AS (SELECT doc_id, tk, n,
             CASE WHEN n <= 64 THEN 1
                  ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) + 1 END AS n_chunks
           FROM t),
         x AS (SELECT doc_id, tk, n, unnest(range(n_chunks)) AS chunk_id FROM c)
         SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
           least(64, n - chunk_id * 48) AS n_tok,
           md5(array_to_string(list_slice(tk, chunk_id * 48 + 1,
             chunk_id * 48 + least(64, n - chunk_id * 48)), ' ')) AS chunk_md5
         FROM x""",
    "x3_unigram_logprob" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents),
         pd AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k
           FROM tk GROUP BY doc_id, tok),
         c AS (SELECT tok, CAST(sum(k) AS BIGINT) AS c FROM pd GROUP BY tok),
         n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
         s AS (SELECT pd.doc_id, pd.k,
             CAST(floor(ln(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lp6
           FROM pd JOIN c ON c.tok = pd.tok, n)
         SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
           CAST(sum(k * lp6) AS DOUBLE) / (CAST(sum(k) AS BIGINT) * 1000000.0) AS avg_logprob
         FROM s GROUP BY doc_id""",
    "x3_unigram_model" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY tok)
         SELECT tok, c, (SELECT CAST(sum(c) AS BIGINT) FROM cnt) AS n FROM cnt""",
    // the x3_unigram_logprob chain rolled up at source grain (shared lp6
    // quantization)
    "x3_source_logprob" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
             FROM documents),
         ps AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS k
           FROM tk GROUP BY 1, 2),
         c AS (SELECT tok, CAST(sum(k) AS BIGINT) AS c FROM ps GROUP BY 1),
         n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
         s AS (SELECT ps.source, ps.k,
             CAST(floor(ln(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lp6
           FROM ps JOIN c ON c.tok = ps.tok, n)
         SELECT source, CAST(sum(k) AS BIGINT) AS n_tokens,
           CAST(sum(k * lp6) AS DOUBLE) / (CAST(sum(k) AS BIGINT) * 1000000.0)
             AS avg_logprob
         FROM s GROUP BY source""",
    // the x3_quality formula and x3_entropy chain, 1e-4-quantized into
    // nine exact int64 moments; each r is one fixed expression, zero
    // variance -> null
    "x3_signal_corr" ->
      ("""WITH qq AS (SELECT doc_id, round(
             """ + qualityLengthTerm + """ +
             0.3 * (len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) /
                    CAST(len(string_split(text,' ')) AS DOUBLE)) +
             0.3 * (1.0 - length(regexp_replace(text, '[a-z ]', '', 'g')) /
                    CAST(greatest(length(text), 1) AS DOUBLE)), 6) AS quality
           FROM documents),
         pd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         kc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k
           FROM pd GROUP BY 1, 2),
         ag AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
             CAST(sum(k * """ + entropyMicroNatTerm + """) AS BIGINT) AS s
           FROM kc GROUP BY 1),
         en AS (SELECT doc_id,
             round(CAST(CAST(floor(ln(n_tokens) * 1000000 + 0.5) AS BIGINT) * n_tokens - s
               AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000), 6) AS entropy
           FROM ag),
         j AS (SELECT
             CAST(floor(qq.quality * 10000 + 0.5) AS BIGINT) AS x,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS y,
             CAST(floor(en.entropy * 10000 + 0.5) AS BIGINT) AS z
           FROM documents d
           JOIN qq ON qq.doc_id = d.doc_id
           JOIN en ON en.doc_id = d.doc_id),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(z) AS BIGINT) AS sz,
             CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
             CAST(sum(z*z) AS BIGINT) AS szz,
             CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*z) AS BIGINT) AS sxz,
             CAST(sum(y*z) AS BIGINT) AS syz
           FROM j)
         SELECT n,
           CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
             round(CAST(n*sxy - sx*sy AS DOUBLE) /
               (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
                sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) END AS r_quality_len,
           CASE WHEN n*sxx - sx*sx > 0 AND n*szz - sz*sz > 0 THEN
             round(CAST(n*sxz - sx*sz AS DOUBLE) /
               (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
                sqrt(CAST(n*szz - sz*sz AS DOUBLE))), 6) END AS r_quality_entropy,
           CASE WHEN n*syy - sy*sy > 0 AND n*szz - sz*sz > 0 THEN
             round(CAST(n*syz - sy*sz AS DOUBLE) /
               (sqrt(CAST(n*syy - sy*sy AS DOUBLE)) *
                sqrt(CAST(n*szz - sz*sz AS DOUBLE))), 6) END AS r_len_entropy
         FROM m"""),
    "x3_lexical" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
             FROM documents),
         k AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS k
           FROM tk GROUP BY 1, 2),
         a AS (SELECT source, CAST(sum(k) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
           FROM k GROUP BY 1)
         SELECT source, n_tokens, n_types, n_hapax,
           round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
           round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
             AS hapax_rate
         FROM a""",
    "x3_zipf_slope" ->
      """WITH f AS (SELECT source, unnest(string_split(text, ' ')) AS tok
             FROM documents),
         c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS fq
           FROM f GROUP BY 1, 2),
         r AS (SELECT source, fq, row_number() OVER (PARTITION BY source
             ORDER BY fq DESC, tok) AS rk FROM c),
         q AS (SELECT source,
             CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(CAST(fq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
           FROM r WHERE rk <= 100)
         SELECT source, count(*) AS n_vocab,
           round(CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS DOUBLE) /
                 CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS DOUBLE), 6) AS slope
         FROM q GROUP BY source""",
    "x3_length_hist" ->
      """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT CAST(length(bin(n_tokens)) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs, min(n_tokens) AS min_tokens,
           max(n_tokens) AS max_tokens, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM d GROUP BY 1""",
    "x3_length_quantiles" ->
      """SELECT source, count(n_chars) AS n,
           count(DISTINCT n_chars) AS n_distinct,
           round(quantile_cont(n_chars, 0.25), 4) AS p25,
           round(quantile_cont(n_chars, 0.5), 4) AS p50,
           round(quantile_cont(n_chars, 0.75), 4) AS p75,
           round(quantile_cont(n_chars, 0.9), 4) AS p90
         FROM documents GROUP BY source""",
    "x3_entropy" ->
      ("""WITH pd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         kc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k
           FROM pd GROUP BY 1, 2),
         ag AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(k * """ + entropyMicroNatTerm + """) AS BIGINT) AS s
           FROM kc GROUP BY 1)
         SELECT doc_id, n_tokens, n_distinct,
           round(CAST(CAST(floor(ln(n_tokens) * 1000000 + 0.5) AS BIGINT) * n_tokens - s
               AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000), 6) AS entropy
         FROM ag"""),
    "x3_bigram_logprob" ->
      (bigramDToCa + """
         s2 AS (SELECT pd.doc_id, pd.k,
             CAST(floor(ln(CAST(cb.cb AS DOUBLE) / CAST(ca.ca AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lp6
           FROM pd JOIN cb ON cb.a = pd.a AND cb.b = pd.b JOIN ca ON ca.a = pd.a)
         SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
           CAST(sum(k * lp6) AS DOUBLE) / (CAST(sum(k) AS BIGINT) * 1000000.0) AS avg_logprob
         FROM s2 GROUP BY doc_id"""),
    // the x3_bigram_logprob pair/count chain truncated at the model grain:
    // the stored (a, b, cb, ca) artifact itself
    "x3_bigram_model" ->
      (bigramDToBg + """
         cb AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY a, b),
         ca AS (SELECT a, CAST(sum(cb) AS BIGINT) AS ca FROM cb GROUP BY a)
         SELECT cb.a, cb.b, cb.cb, ca.ca FROM cb JOIN ca ON ca.a = cb.a"""),
    "x3_backoff_score" ->
      """WITH trd AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents
           WHERE doc_id >= 100),
         trz AS (SELECT unnest(list_zip(s, s[2:])) AS p FROM trd),
         trbg AS (SELECT p[1] AS a, p[2] AS b FROM trz WHERE p[2] IS NOT NULL),
         cb AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cb FROM trbg GROUP BY a, b),
         ca AS (SELECT a, CAST(sum(cb) AS BIGINT) AS ca FROM cb GROUP BY a),
         cu AS (SELECT tok AS b, CAST(count(*) AS BIGINT) AS cu FROM
             (SELECT unnest(string_split(text, ' ')) AS tok FROM documents
              WHERE doc_id >= 100)
           GROUP BY tok),
         tt AS (SELECT CAST(sum(cu) AS BIGINT) AS t FROM cu),
         hd AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents
           WHERE doc_id < 100),
         hz AS (SELECT doc_id, unnest(list_zip(s, s[2:])) AS p FROM hd),
         hbg AS (SELECT doc_id, p[1] AS a, p[2] AS b FROM hz WHERE p[2] IS NOT NULL),
         pk AS (SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS k
           FROM hbg GROUP BY 1, 2, 3),
         sc AS (SELECT pk.doc_id, pk.k,
             CASE WHEN cb.cb IS NOT NULL THEN
               CAST(floor(ln(CAST(cb.cb AS DOUBLE) / CAST(ca.ca AS DOUBLE))
                 * 1000000 + 0.5) AS BIGINT)
             WHEN cu.cu IS NOT NULL THEN
               CAST(floor(ln(0.4::DOUBLE * cu.cu / tt.t) * 1000000 + 0.5) AS BIGINT)
             ELSE NULL END AS lp6,
             (cb.cb IS NULL AND cu.cu IS NOT NULL) AS bo
           FROM pk LEFT JOIN cb ON cb.a = pk.a AND cb.b = pk.b
           LEFT JOIN ca ON ca.a = pk.a
           LEFT JOIN cu ON cu.b = pk.b, tt),
         ag AS (SELECT doc_id,
             CAST(sum(CASE WHEN lp6 IS NOT NULL THEN k ELSE 0 END) AS BIGINT) AS n_scored,
             CAST(sum(CASE WHEN bo THEN k ELSE 0 END) AS BIGINT) AS n_backoff,
             CAST(sum(CASE WHEN lp6 IS NULL THEN k ELSE 0 END) AS BIGINT) AS n_oov,
             CAST(sum(CASE WHEN lp6 IS NOT NULL THEN k * lp6 ELSE 0 END) AS BIGINT) AS s
           FROM sc GROUP BY doc_id)
         SELECT doc_id, n_scored, n_backoff, n_oov,
           CASE WHEN n_scored > 0 THEN
             CAST(s AS DOUBLE) / (CAST(n_scored AS DOUBLE) * 1000000.0)
           ELSE NULL END AS avg_logprob
         FROM ag""",
    "x3_pmi" ->
      """WITH d AS (SELECT string_split(text, ' ') AS s FROM documents),
         z AS (SELECT unnest(list_zip(s, s[2:])) AS p FROM d),
         bg AS (SELECT p[1] AS a, p[2] AS b FROM z WHERE p[2] IS NOT NULL),
         cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b),
         ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY a),
         cb AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS c_b FROM cab GROUP BY b),
         t AS (SELECT CAST(sum(c_ab) AS BIGINT) AS t FROM cab),
         s AS (SELECT cab.a, cab.b, cab.c_ab,
             CAST(floor(ln((CAST(cab.c_ab AS DOUBLE) * t.t) /
               (CAST(ca.c_a AS DOUBLE) * cb.c_b)) * 1000000 + 0.5) AS BIGINT) AS pmi6
           FROM cab JOIN ca ON ca.a = cab.a JOIN cb ON cb.b = cab.b, t
           WHERE cab.c_ab >= 5)
         SELECT a, b, c_ab, CAST(pmi6 AS DOUBLE) / 1000000.0 AS pmi
         FROM s ORDER BY pmi6 DESC, a, b LIMIT 30""",
    "x3_pagerank" ->
      """WITH d AS (SELECT string_split(text, ' ') AS s FROM documents),
         z AS (SELECT unnest(list_zip(s, s[2:])) AS p FROM d),
         bg AS (SELECT p[1] AS a, p[2] AS b FROM z WHERE p[2] IS NOT NULL),
         e AS (SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM bg
           GROUP BY a, b HAVING count(*) >= 3),
         wa AS (SELECT a, CAST(sum(w) AS BIGINT) AS wa FROM e GROUP BY a),
         n AS (SELECT a AS tok FROM e UNION SELECT b AS tok FROM e),
         r0 AS (SELECT tok, CAST(1000000 AS BIGINT) AS r FROM n),
         c1 AS (SELECT e.b AS tok,
             CAST(sum((r0.r * e.w * 17) // (wa.wa * 20)) AS BIGINT) AS c
           FROM e JOIN r0 ON r0.tok = e.a JOIN wa ON wa.a = e.a GROUP BY e.b),
         r1 AS (SELECT n.tok, CAST(150000 + coalesce(c1.c, 0) AS BIGINT) AS r
           FROM n LEFT JOIN c1 ON c1.tok = n.tok),
         c2 AS (SELECT e.b AS tok,
             CAST(sum((r1.r * e.w * 17) // (wa.wa * 20)) AS BIGINT) AS c
           FROM e JOIN r1 ON r1.tok = e.a JOIN wa ON wa.a = e.a GROUP BY e.b),
         r2 AS (SELECT n.tok, CAST(150000 + coalesce(c2.c, 0) AS BIGINT) AS r
           FROM n LEFT JOIN c2 ON c2.tok = n.tok),
         c3 AS (SELECT e.b AS tok,
             CAST(sum((r2.r * e.w * 17) // (wa.wa * 20)) AS BIGINT) AS c
           FROM e JOIN r2 ON r2.tok = e.a JOIN wa ON wa.a = e.a GROUP BY e.b),
         r3 AS (SELECT n.tok, CAST(150000 + coalesce(c3.c, 0) AS BIGINT) AS r
           FROM n LEFT JOIN c3 ON c3.tok = n.tok),
         t AS (SELECT tok, r FROM r3 ORDER BY r DESC, tok LIMIT 50)
         SELECT tok, CAST(r AS DOUBLE) / 1000000.0 AS rank FROM t""",
    "x3_interp_logprob" ->
      (bigramDToCa + """
         cu0 AS (SELECT unnest(string_split(text, ' ')) AS b FROM documents),
         cu AS (SELECT b, CAST(count(*) AS BIGINT) AS cu FROM cu0 GROUP BY 1),
         tt AS (SELECT CAST(sum(cu) AS BIGINT) AS t FROM cu),
         s2 AS (SELECT pd.doc_id, pd.k,
             CAST(floor(ln(0.75 * (CAST(cb.cb AS DOUBLE) / CAST(ca.ca AS DOUBLE)) +
               0.25 * (CAST(cu.cu AS DOUBLE) / CAST(tt.t AS DOUBLE))) * 1000000
               + 0.5) AS BIGINT) AS lp6
           FROM pd JOIN cb ON cb.a = pd.a AND cb.b = pd.b
           JOIN ca ON ca.a = pd.a JOIN cu ON cu.b = pd.b, tt)
         SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
           CAST(sum(k * lp6) AS DOUBLE) /
             (CAST(sum(k) AS BIGINT) * 1000000.0) AS avg_logprob
         FROM s2 GROUP BY doc_id"""),
    "x3_oov_rate" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
             FROM documents),
         c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY tok),
         v AS (SELECT tok FROM c WHERE c >= 2)
         SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) /
             CAST(count(*) AS DOUBLE), 6) AS oov_rate
         FROM tk LEFT JOIN v ON v.tok = tk.tok GROUP BY source""",
    "x3_source_drift" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
             FROM documents),
         st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st
           FROM tk GROUP BY source, tok),
         ct AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY tok),
         ts AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS t_s FROM st GROUP BY source),
         t AS (SELECT CAST(sum(c_t) AS BIGINT) AS t FROM ct),
         s AS (SELECT st.source, ts.t_s,
             st.c_st * CAST(floor(ln((CAST(st.c_st AS DOUBLE) * t.t) /
               (CAST(ts.t_s AS DOUBLE) * ct.c_t)) * 1000000 + 0.5) AS BIGINT) AS term
           FROM st JOIN ct ON ct.tok = st.tok JOIN ts ON ts.source = st.source, t)
         SELECT source, t_s AS n_tokens,
           CAST(sum(term) AS DOUBLE) / (CAST(t_s AS DOUBLE) * 1000000.0) AS kl_nats
         FROM s GROUP BY source, t_s""",
    "x3_keywords" ->
      (tfidfTermsToNd + """,
         sc AS (SELECT t.doc_id, t.token, t.tf,
             """ + tfidfScore + """
           FROM terms t JOIN dfs d ON t.token = d.token, nd),
         r AS (SELECT doc_id, token, tf, tfidf, row_number() OVER (
             PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank FROM sc)
         SELECT doc_id, token, tf, tfidf, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3"""),
    "x3_phrase_index" ->
      (phraseTToIdx + """
         SELECT doc_id, pos, token FROM idx"""),
    // x3_phrase_serve aliases x3_phrase_search by reference
    "x3_phrase_search" ->
      (phraseTToIdx + """,
         q AS (SELECT doc_id AS q_id, s[1] AS p1, s[2] AS p2, s[3] AS p3
           FROM t WHERE len(s) >= 3 AND
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 < 7),
         m AS (SELECT q.q_id, i1.doc_id
           FROM q JOIN idx i1 ON i1.token = q.p1
           JOIN idx i2 ON i2.doc_id = i1.doc_id AND i2.pos = i1.pos + 1
             AND i2.token = q.p2
           JOIN idx i3 ON i3.doc_id = i1.doc_id AND i3.pos = i1.pos + 2
             AND i3.token = q.p3)
         SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_occ
         FROM m GROUP BY q_id, doc_id"""),
    // x3_bm25_serve aliases x3_bm25_search by reference.
    // All BM25 literals that multiply integers carry ::DOUBLE — DuckDB
    // parses bare decimal literals as DECIMAL and exact-decimal products
    // round differently from Spark's double arithmetic.
    "x3_bm25_index" ->
      ("""WITH terms AS (""" + bm25DlToIdxOpen + """
           JOIN dl ON dl.doc_id = t.doc_id, nd)
         SELECT doc_id, token, tf, dl, idf6, avgdl FROM idx"""),
    "x3_bm25_search" ->
      ("""WITH terms AS (""" + bm25DlToQ + """
           WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 100 < 11),""" + bm25HitToRk + """
             PARTITION BY q_id ORDER BY s6 DESC, doc_id) AS rank FROM sc)
         SELECT q_id, doc_id AS match_id, CAST(rank AS INTEGER) AS rank, n_hit,
           CAST(s6 AS DOUBLE) / 1000000.0 AS score
         FROM rk WHERE rank <= 5"""),
    "x3_pii_redact" ->
      """WITH p AS (SELECT doc_id, text
             || CASE WHEN doc_id % 3 = 0 THEN ' u' || doc_id || '@mail.example.com' ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN ' call 555-0142' ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.99' ELSE '' END
             AS text2
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text2, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text2, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text2, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(text2,
             '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g')) AS clean_md5
         FROM p""",
    "x3_group_concat" ->
      """SELECT lang, source, count(*) AS n_docs,
         CAST(length(string_agg(text, ' ' ORDER BY doc_id)) AS BIGINT) AS cat_len,
         md5(string_agg(text, ' ' ORDER BY doc_id)) AS cat_md5
         FROM documents GROUP BY lang, source""",
    "x3_quality_filter" ->
      ("""WITH q AS (SELECT doc_id, round(""" + qualityScoreFromDocs + """
         r AS (SELECT d.doc_id, d.lang, q.quality,
             round(percent_rank() OVER (PARTITION BY d.lang
               ORDER BY q.quality, d.doc_id), 6) AS pr
           FROM documents d JOIN q ON d.doc_id = q.doc_id)
         SELECT doc_id, lang, quality, pr FROM r WHERE pr >= 0.5"""),
  )

  // ---- x4: near-duplicate detection ----
  private def x4: Map[String, String] = Map(
    "x4_minhash_sig" ->
      ("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         t AS (SELECT doc_id, list_transform(
             list_distinct(list_transform(range(len(t) - 2),
               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])),
             """ + minhashShingleHash + """
           FROM tk WHERE len(t) >= 3)
         SELECT doc_id, CAST(i AS INTEGER) AS perm,
           list_min(list_transform(hs, h -> """ + minhashPermutation + """)) AS minhash
         FROM t, (SELECT unnest(range(16)) AS i)"""),
    "x4_minhash_pairs" ->
      (minhashTkToCpOpen + """
           FROM band x JOIN band y ON x.b = y.b AND x.key = y.key AND x.rep < y.rep)
         SELECT doc_a, doc_b FROM stars UNION ALL SELECT doc_a, doc_b FROM cp"""),
    "x4_cluster" ->
      (clusterTkToL3Last + """
         SELECT doc_id, cluster FROM l3"""),
    // cluster-cohesion audit: the x4_cluster chain through l3 + each
    // non-root member's signature agreement with the cluster root
    // (x4_minhash_est's n_agree formula), rolled up to mean/min per
    // cluster
    "x4_cluster_cohesion" ->
      (clusterTkToL3 + """
         mem AS (SELECT doc_id, cluster FROM l3 WHERE doc_id <> cluster),
         ag AS (SELECT m.cluster, m.doc_id,
             CAST(len(list_filter(range(16), i -> a.s[i+1] = b.s[i+1])) AS BIGINT)
               AS n_agree
           FROM mem m JOIN sig a ON a.doc_id = m.doc_id
           JOIN sig b ON b.doc_id = m.cluster),
         sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS size FROM l3 GROUP BY 1)
         SELECT ag.cluster, sz.size, CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(sum(n_agree) AS DOUBLE) / (16::DOUBLE * count(*)), 4)
             AS mean_est_j,
           round(CAST(min(n_agree) AS DOUBLE) / 16::DOUBLE, 4) AS min_est_j
         FROM ag JOIN sz ON sz.cluster = ag.cluster
         GROUP BY 1, 2"""),
    // the x4_cluster chain plus a size rollup: the row-level canonical-id
    // map of the clustering
    "x4_survivors" ->
      (clusterTkToL3 + """
         sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
           FROM l3 GROUP BY 1)
         SELECT l.doc_id, l.cluster AS canonical_id,
           CAST(CASE WHEN l.doc_id = l.cluster THEN 1 ELSE 0 END AS BIGINT)
             AS is_canonical,
           sz.cluster_size
         FROM l3 l JOIN sz ON sz.cluster = l.cluster"""),
    // the x4_cluster chain joined to the (doc, source) projection:
    // per-source redundancy scorecard
    "x4_source_dup_rate" ->
      (clusterTkToL3 + """
         j AS (SELECT l3.doc_id, l3.cluster, d.source
           FROM l3 JOIN documents d ON d.doc_id = l3.doc_id)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id = cluster THEN 1 ELSE 0 END) AS BIGINT)
             AS n_canonical,
           round(CAST(count(*) - sum(CASE WHEN doc_id = cluster THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
         FROM j GROUP BY 1"""),
    // per-source posting-vs-distinct shingle mass (shingles distinct
    // within a doc, the minhash convention)
    "x4_shingle_profile" ->
      """WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t
             FROM documents),
         sh AS (SELECT doc_id, source, list_distinct(list_transform(range(len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
           FROM tk WHERE len(t) >= 3),
         inv AS (SELECT source, unnest(shingles) AS shingle FROM sh),
         d AS (SELECT source, shingle, CAST(count(*) AS BIGINT) AS df
           FROM inv GROUP BY 1, 2)
         SELECT source, CAST(sum(df) AS BIGINT) AS n_postings,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(CAST(sum(df) - count(*) AS DOUBLE) /
                 CAST(sum(df) AS DOUBLE), 6) AS dup_frac,
           max(df) AS max_df
         FROM d GROUP BY 1""",
    "x4_bloom_bits" ->
      (bloomIdxToBits + """
         SELECT bit FROM bits"""),
    "x4_bloom_gate" ->
      (bloomIdxToBits + """,
         inc AS (SELECT doc_id, md5(text) AS fp FROM documents
           WHERE doc_id < 100),
         pr AS (SELECT doc_id, fp,
             CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || fp), 1, 15))
               AS BIGINT) % 4096 AS bit
           FROM inc CROSS JOIN (SELECT unnest(range(4)) AS i) ii),
         hv AS (SELECT pr.doc_id, pr.fp,
             CAST(sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS BIGINT) = 4
               AS bloom_hit
           FROM pr LEFT JOIN bits b ON b.bit = pr.bit GROUP BY pr.doc_id, pr.fp)
         SELECT h.doc_id, h.fp, h.bloom_hit, (i.fp IS NOT NULL) AS is_dup
         FROM hv h LEFT JOIN idx i ON i.fp = h.fp"""),
    "x4_incremental" ->
      (minhashTkToBd + """
           FROM sig, (SELECT unnest(range(4)) AS b)),
         idx AS (SELECT b, key, min(doc_id) AS match_id
           FROM bd WHERE doc_id >= 100 GROUP BY b, key)
         SELECT i.doc_id, min(x.match_id) AS match_id,
           CAST(count(*) AS BIGINT) AS n_hit_bands
         FROM bd i JOIN idx x ON i.b = x.b AND i.key = x.key
         WHERE i.doc_id < 100 GROUP BY i.doc_id"""),
    "x4_band_index" ->
      (minhashTkToBd + """
           FROM sig, (SELECT unnest(range(4)) AS b))
         SELECT b AS band, key, min(doc_id) AS match_id
         FROM bd GROUP BY b, key"""),
    "x4_span_dedup" ->
      (spanTkToSp + """
         shared AS (SELECT sh, count(*) AS ndocs FROM sp GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           round(CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(count(*) AS DOUBLE), 6) AS dup_frac
         FROM sp JOIN shared USING (sh) GROUP BY 1"""),
    "x4_span_pairs" ->
      (spanTkToSp + """
         shared AS (SELECT sh, count(*) AS ndocs FROM sp GROUP BY 1),
         kept AS (SELECT doc_id, sp.sh FROM sp JOIN shared USING (sh)
           WHERE ndocs BETWEEN 2 AND 16)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
         FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY n_shared DESC, doc_a, doc_b LIMIT 50"""),
    // the x4_span_dedup span CTE (tk/sp); the index side is the
    // distinct-span set of docs >= 100
    "x4_span_incremental" ->
      (spanTkToSp + """
         idx AS (SELECT DISTINCT sh FROM sp WHERE doc_id >= 100),
         inc AS (SELECT doc_id, sh FROM sp WHERE doc_id < 100)
         SELECT inc.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN idx.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_index_spans,
           round(CAST(sum(CASE WHEN idx.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS index_frac
         FROM inc LEFT JOIN idx ON idx.sh = inc.sh GROUP BY 1"""),
    "x4_dup_stats" ->
      (clusterTkToL3 + """
         cs AS (SELECT cluster, count(*) AS cluster_size FROM l3 GROUP BY cluster)
         SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
         FROM cs GROUP BY cluster_size"""),
    "x4_source_overlap" ->
      (clusterTkToL3 + """
         bs AS (SELECT l3.cluster, d.source, count(*) AS n
           FROM l3 JOIN documents d ON d.doc_id = l3.doc_id
           GROUP BY l3.cluster, d.source),
         m AS (SELECT x.source AS source_x, y.source AS source_y,
             CASE WHEN x.source = y.source THEN x.n*(x.n-1)//2 ELSE x.n*y.n END AS np
           FROM bs x JOIN bs y ON x.cluster = y.cluster AND x.source <= y.source)
         SELECT source_x, source_y, CAST(sum(np) AS BIGINT) AS n_pairs
         FROM m GROUP BY source_x, source_y HAVING sum(np) > 0"""),
    "x4_novelty" ->
      (decontamTkToInv + """
         f AS (SELECT shingle, min(doc_id) AS first_doc FROM inv GROUP BY shingle)
         SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = i.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(sum(CASE WHEN f.first_doc = i.doc_id THEN 1 ELSE 0 END) /
             CAST(count(*) AS DOUBLE), 6) AS novelty
         FROM inv i JOIN f ON f.shingle = i.shingle GROUP BY i.doc_id"""),
    "x4_ngram_jaccard" ->
      (ngramTkToInter + """
           GROUP BY x.doc_id, y.doc_id)
         SELECT doc_a, doc_b, n_inter,
           round(n_inter / CAST(ca.ns + cb.ns - n_inter AS DOUBLE), 6) AS jaccard
         FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
         ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20"""),
    "x4_band_recall" ->
      (ngramTkToHot + """
         inv AS (SELECT * FROM inv0 WHERE shingle NOT IN (SELECT shingle FROM hot)),""" +
      bandCntToCaught),
    // the x4_cluster sig/band-pair chain + the x4_band_recall exact chain,
    // joined per candidate pair; n_agree counts perm-wise signature
    // agreement
    "x4_minhash_est" ->
      (minhashTkToCp + """
         p AS (SELECT doc_a, doc_b FROM stars
               UNION SELECT doc_a, doc_b FROM cp),
         ag AS (SELECT p.doc_a, p.doc_b,
             CAST(len(list_filter(range(16), i -> a.s[i+1] = b.s[i+1])) AS BIGINT)
               AS n_agree
           FROM p JOIN sig a ON a.doc_id = p.doc_a
           JOIN sig b ON b.doc_id = p.doc_b),""" + ngramShToInter + """
           GROUP BY x.doc_id, y.doc_id),
         exf AS (SELECT doc_a, doc_b,
             round(n_inter / CAST(ca.ns + cb.ns - n_inter AS DOUBLE), 6) AS jaccard
           FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b)
         SELECT ag.doc_a, ag.doc_b, n_agree,
           round(n_agree / 16.0, 6) AS est_jaccard,
           COALESCE(exf.jaccard, 0.0) AS exact_jaccard
         FROM ag LEFT JOIN exf ON exf.doc_a = ag.doc_a AND exf.doc_b = ag.doc_b"""),
    // x4_band_recall's chain with ONE added predicate: the capped inverted
    // index is restricted to the deterministic 37% doc-id hash sample
    // BEFORE the pair stage (hot/df stats stay full-corpus, band side
    // stays the full production index) — the sampled ≡ full-restricted
    // contract SampleBoundSpec pins, here inside the hash gate
    "x4_band_recall_sampled" ->
      (ngramTkToHot + """
         inv AS (SELECT * FROM inv0 WHERE shingle NOT IN (SELECT shingle FROM hot)
           AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 100 < 37),""" + bandCntToCaught),
    "x4_containment" ->
      (ngramTkToInter + """
           GROUP BY x.doc_id, y.doc_id),
         dirs AS (
           SELECT doc_a AS inner_id, doc_b AS outer_id, n_inter, ca.ns AS n_inner
           FROM inter JOIN cnt ca ON ca.doc_id = doc_a
           UNION ALL
           SELECT doc_b AS inner_id, doc_a AS outer_id, n_inter, cb.ns AS n_inner
           FROM inter JOIN cnt cb ON cb.doc_id = doc_b)
         SELECT inner_id, outer_id, n_inter,
           round(n_inter / CAST(n_inner AS DOUBLE), 6) AS containment
         FROM dirs ORDER BY containment DESC, inner_id, outer_id LIMIT 20"""),
    "x4_edit_pairs" ->
      """WITH t0 AS (SELECT doc_id,
           array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') AS title
         FROM documents),
         t AS (SELECT doc_id, title,
           string_split(title, ' ')[1] AS tok1,
           string_split(title, ' ')[-1] AS tokl
         FROM t0),
         cand AS (
           SELECT x.doc_id AS a_id, y.doc_id AS b_id, x.title AS ta, y.title AS tb
           FROM t x JOIN t y ON x.tok1 = y.tok1 AND x.doc_id < y.doc_id
           UNION
           SELECT x.doc_id AS a_id, y.doc_id AS b_id, x.title AS ta, y.title AS tb
           FROM t x JOIN t y ON x.tokl = y.tokl AND x.doc_id < y.doc_id)
         SELECT a_id, b_id, CAST(levenshtein(ta, tb) AS BIGINT) AS dist
         FROM cand WHERE levenshtein(ta, tb) <= 4""",
    "x4_simhash" ->
      """WITH t AS (SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
             s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
           FROM documents)
         SELECT doc_id, list_reduce(list_transform(range(60), i ->
           CASE WHEN list_reduce(list_transform(hs,
                  h -> CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END), (a,b) -> a+b) > 0
                THEN (1::BIGINT << i) ELSE 0::BIGINT END), (a,b) -> a+b) AS simhash
         FROM t""",
    "x4_simhash_topk" ->
      """WITH t AS (SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
             s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
           FROM documents),
         sh AS (SELECT doc_id, list_reduce(list_transform(range(60), i ->
             CASE WHEN list_reduce(list_transform(hs,
                    h -> CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END), (a,b) -> a+b) > 0
                  THEN (1::BIGINT << i) ELSE 0::BIGINT END), (a,b) -> a+b) AS simhash
           FROM t)
         SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.simhash, y.simhash)) AS hamming
         FROM sh x JOIN sh y ON x.doc_id < y.doc_id
         ORDER BY hamming, doc_a, doc_b LIMIT 20""",
    "x4_decontaminate" ->
      (decontamTkToInv + """
         ov AS (SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS n_overlap
           FROM inv c JOIN inv b ON c.shingle = b.shingle
           WHERE c.doc_id >= 50 AND b.doc_id < 50
           GROUP BY c.doc_id, b.doc_id
           HAVING count(*) >= 5),
         r AS (SELECT doc_id, bench_id, n_overlap, row_number() OVER (
             PARTITION BY doc_id ORDER BY n_overlap DESC, bench_id) AS rk FROM ov)
         SELECT doc_id, bench_id, n_overlap FROM r WHERE rk = 1"""),
    // x4_decontaminate's tk/sh/inv/ov chain rolled up per BENCHMARK item,
    // no champion window
    "x4_decontam_profile" ->
      (decontamTkToInv + """
         ov AS (SELECT c.doc_id, b.doc_id AS bench_id,
             CAST(count(*) AS BIGINT) AS n_overlap
           FROM inv c JOIN inv b ON c.shingle = b.shingle
           WHERE c.doc_id >= 50 AND b.doc_id < 50
           GROUP BY c.doc_id, b.doc_id
           HAVING count(*) >= 5)
         SELECT bench_id, CAST(count(*) AS BIGINT) AS n_contaminated,
           max(n_overlap) AS max_overlap,
           CAST(sum(n_overlap) AS BIGINT) AS total_overlap
         FROM ov GROUP BY 1"""),
    "x4_embedding_dedup" ->
      (embeddingEToN + """
         drops AS (SELECT DISTINCT b.vec_id AS b_id
           FROM n a JOIN n b ON a.vec_id < b.vec_id
           WHERE round(list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]),
             (x,y) -> x+y) / (a.nrm * b.nrm), 6) >= 0.38)
         SELECT vec_id FROM embeddings
         WHERE vec_id NOT IN (SELECT b_id FROM drops)"""),
  )

  // ---- x5: multimodal (media stub embedding) search ----
  private def x5: Map[String, String] = Map(
    // media IVF x SQ: x2_ann_ivfsq's FULL chain (IVF training + rk/asg/prb
    // + sc/qq int8 encode + the adot candidate tail) over the dyadic media
    // stub head e0/e
    "x5_mm_search_ivfsq" ->
      (mediaE0ToE + ivfsqSearchChain),
    // media residual IVF x SQ: x2_ann_ivfsq_res's FULL chain (IVF training
    // + resv/dsc-dq residual encode + pbr/pb/qres probe head +
    // rivfc/ssc/srr estimate) over the dyadic media stub head e0/e
    "x5_mm_search_ivfsq_res" ->
      (mediaE0ToE + ivfsqResSearchChain),
    // the media IVF-PQ recall audit: x2_ivfpq_recall's FULL composed
    // oracle (IVF chain + raw p-PQ chain + residual r-PQ chain + exact
    // ground truth + hits tail) over the dyadic media stub head e0/e
    "x5_mm_ivfpq_recall" ->
      (mediaE0ToE + ivfpqRecallChain),
    // the media IVF-SQ recall audit: x2_ivfsq_recall's FULL composed
    // oracle (IVF chain + residual SQ chain + raw sc/qq L2 leg + exact
    // ground truth + hits tail) over the dyadic media stub head e0/e
    "x5_mm_ivfsq_recall" ->
      (mediaE0ToE + ivfsqRecallChain),
    "x5_media_features" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS byte_len,
         round(list_reduce(list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)),
           (x,y) -> x+y) / CAST(length(text) AS DOUBLE), 6) AS mean_byte,
         list_max(list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))) AS max_byte
         FROM documents""",
    "x5_mm_join" ->
      """WITH emb AS (SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim,
           round(sqrt(list_reduce(list_transform(list_transform(embedding,
             x -> CAST(x AS DOUBLE)), x -> x*x), (x,y) -> x+y)), 6) AS norm
           FROM embeddings)
         SELECT d.doc_id, d.lang, e.label, e.dim, e.norm
         FROM documents d JOIN emb e ON d.doc_id = e.vec_id""",
    "x5_resize" ->
      "SELECT doc_id, least(length(text), 100) AS rbytes FROM documents",
    "x5_mm_search" ->
      (mediaEToN + """
         s AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n q, n t WHERE q.vec_id < 5 AND t.vec_id <> q.vec_id),
         r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM s)
         SELECT q_id, n_id, round(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3"""),
    // int8 media retrieval: the media stub-embedding source + the
    // x2_quantize sc/qq encode chain + the SQ ADC scoring formula
    // (queries vec_id < 5, top-3 -- the media search convention)
    "x5_mm_search_sq" ->
      (mediaE + """
                  sc AS (SELECT vec_id, v,""" + sqQqToS + """
           FROM qq a, qq b WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id),
         r AS (SELECT q_id, n_id, adot, row_number() OVER (PARTITION BY q_id
             ORDER BY adot DESC, n_id) AS rank FROM s)
         SELECT q_id, n_id, round(adot, 6) AS adot, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3"""),
    // binary media retrieval: the media stub source CENTERED (v-0.5)
    // before the x2_ann_binary sign-pack b CTE -- uncentered [0,1] stubs
    // would sign-pack to all-ones
    "x5_mm_search_binary" ->
      (mediaBinaryE0ToR + """
             ORDER BY hamming, n_id) AS rank FROM s)
         SELECT q_id, n_id, hamming, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3"""),
    // media two-stage binary: the FULL x5_mm_search_binary chain kept
    // through r proposes 20 Hamming candidates; exact cosine over the RAW
    // stub vectors (e0) re-orders -- the only serviceable binary
    // deployment on media
    "x5_mm_search_binary_rerank" ->
      (mediaBinaryE0ToRr + """
             ORDER BY cos DESC, n_id) AS rank FROM ex)
         SELECT q_id, n_id, round(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
         FROM rr WHERE rank <= 3"""),
    // its measured recall gate: the rerank chain + the exact-cosine
    // brute stream over the SAME n (raw e0 norms) + the hit rollup
    "x5_mm_binary_rerank_recall" ->
      (mediaBinaryE0ToRr + """
             ORDER BY cos DESC, n_id) AS rank FROM ex),
         ak AS (SELECT q_id, n_id FROM rr WHERE rank <= 3),
         sb AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm) AS cos
           FROM n q, n t WHERE q.vec_id < 5 AND t.vec_id <> q.vec_id),
         rb AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS rank FROM sb),
         ov AS (SELECT b.q_id, b.n_id,
             CASE WHEN l.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM (SELECT q_id, n_id FROM rb WHERE rank <= 3) b
           LEFT JOIN ak l ON l.q_id = b.q_id AND l.n_id = b.n_id)
         SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
           round(CAST(CAST(sum(hit) AS BIGINT) AS DOUBLE) / 3.0, 4) AS recall
         FROM ov GROUP BY q_id"""),
    "x5_mm_align" ->
      (mediaE + marginNToP + """
         FROM p WHERE cos + c2 > 0 AND round(cos * 2 / (cos + c2), 6) >= 1.001"""),
    "x5_mm_search_lsh" ->
      (mediaEToN + mediaLshBbToR + """
             ORDER BY cos DESC, n_id) AS rank FROM s)
         SELECT q_id, n_id, round(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3"""),
    // filtered media retrieval: the media stub head with lang AS label
    // + x2_ann_filtered's labeled bb CTE and cand/s/r discipline (the
    // qp CTE narrows to the media query batch, vec_id < 5)
    "x5_mm_search_filtered" ->
      (mediaLabeledE + filteredNToQp + """
           FROM bb, (SELECT """ + lshProbeMasks + """) WHERE vec_id < 5),""" +
      filteredCandToTop3),
    // the filtered media leg's recall gate: the media labeled head + a
    // brute chain restricted to the query's LANGUAGE + the labeled
    // bb/qp/cand/s/r chains of x5_mm_search_filtered + the n_true/n_hits
    // recall tail
    "x5_mm_filtered_recall" ->
      (mediaFilteredEToBb + """
         qp AS (SELECT vec_id, label, tt, xor(bucket, fl) AS bucket
           FROM bb, (SELECT """ + lshProbeMasks + """) WHERE vec_id < 5),""" +
      filteredCandToApprox),
    // the filtered media probe curve: x5_mm_filtered_recall's media brute
    // head e..exact + the labeled bb CTE + x2_filtered_probe_curve's
    // qp-with-mask-index (vec_id < 5) and cm..curve tail
    "x5_mm_filtered_probe_curve" ->
      (mediaFilteredEToBb + """
         qp AS (SELECT vec_id, label, tt, xor(bucket, fl) AS bucket, idx
           FROM bb, (SELECT """ + lshProbeMasksIdx + """) WHERE vec_id < 5),""" + filteredCmToJ),
    // the filtered media ranking audit: the media brute head keeping RANK
    // in its exact CTE + x5_mm_search_filtered's labeled bb/qp/cand/s/r
    // chains + x2_filtered_rank_quality's graded-recall/MRR tail
    "x5_mm_filtered_rank_quality" ->
      (mediaFilteredEToXr + filteredExactToQp + """
           FROM bb, (SELECT """ + lshProbeMasks + """) WHERE vec_id < 5),""" +
      filteredCandToRankedApprox),
    // labeled media occupancy pre-flight: the media labeled head + bb
    // chain rolled up per (table, LANGUAGE) with x2_filtered_bucket_stats'
    // g/report tail
    "x5_mm_filtered_bucket_stats" ->
      (mediaLabeledE + filteredNToG),
    // the x2_ivf_assign training/assign chain over the dyadic-quantized
    // media stub embedding
    "x5_mm_ivf" ->
      (mediaE0ToE + ivfNToRk + """
             FROM n t, k2 k)
         SELECT vec_id, c_id AS cell FROM rk WHERE ar = 1"""),
    // the x2_pq_codes training/encode chain over the media stub embedding,
    // dyadic-quantized to the 2^-20 grid first so the Lloyd mean sums are
    // fold-order-exact
    "x5_mm_pq" ->
      (mediaE0ToE + pqCodesChain),
    // the x5_mm_pq chain extended with the x2_ann_pq ADC tail: broadcast
    // LUT over the final codebook, integer partial-distance sums, top-3
    // per query
    "x5_mm_search_pq" ->
      (mediaE0ToE + pqSearchChain),
    // media flat-ADC recall gate: the FULL x5_mm_search_pq chain over the
    // dyadic media head through r + the exact-L2 xn..ex head over the SAME
    // dyadic e + the single-leg rollup
    "x5_mm_pq_recall" ->
      (mediaE0ToE + pqRecallChain),
    // the x2_ann_ivfpq composed chain over the dyadic-quantized media stub
    // embedding: IVF training + assignment, p-prefixed PQ training +
    // encoding, probe selection, broadcast LUT, ADC sums over the probed
    // cells' codes
    "x5_mm_search_ivfpq" ->
      (mediaE0ToE + ivfpqSearchChain),
    // the x2_ann_ivfpq_res RESIDUAL composed chain over the
    // dyadic-quantized media stub embedding: IVF training, dyadic residual
    // frame, r-prefixed residual-PQ training + encoding, per-(query, cell)
    // residual LUTs, ADC sums over the probed cells' residual codes
    "x5_mm_search_ivfpq_res" ->
      (mediaE0ToE + ivfpqResSearchChain),
    // the x2_bucket_stats occupancy chain over the raw media stub
    // embedding (same vectors and hyperplanes x5_mm_search_lsh hashes)
    "x5_mm_bucket_stats" ->
      (mediaE + lshBbToG),
    // the x2_recall audit chain over the raw media stub embedding:
    // brute-force ground truth vs the multi-probe bucket CTE
    // x5_mm_search_lsh uses (5 queries)
    "x5_mm_recall" ->
      (mediaEToBb + """
         qp AS (SELECT vec_id, tt, xor(bucket, fl) AS bucket
           FROM bb, (SELECT """ + lshProbeMasks + """) WHERE vec_id < 5),""" +
      recallCandToApprox),
    // media flat-SQ recall gate: the x2_sq_recall structure head-swapped
    // onto the media stub e source -- the sc/qq encode chain + the SQ
    // asymmetric scoring at the media grain (vec_id < 5, top-3) vs the
    // brute MIPS dp stream over the same e, rolled up to per-query hits
    "x5_mm_sq_recall" ->
      (mediaE + sqScToQs2 + """
           FROM qq a, qq b WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id),
         qr2 AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY adot DESC, n_id) AS rank FROM qs2),
         sb AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) AS dp
           FROM e q, e t WHERE q.vec_id < 5 AND t.vec_id <> q.vec_id),
         rb AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
             ORDER BY dp DESC, n_id) AS rank FROM sb),
         ov AS (SELECT b.q_id, b.n_id,
             CASE WHEN l.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM (SELECT q_id, n_id FROM rb WHERE rank <= 3) b
           LEFT JOIN (SELECT q_id, n_id FROM qr2 WHERE rank <= 3) l
             ON l.q_id = b.q_id AND l.n_id = b.n_id)
         SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
           round(CAST(CAST(sum(hit) AS BIGINT) AS DOUBLE) / 3.0, 4) AS recall
         FROM ov GROUP BY q_id"""),
    // media flat-binary recall gate: x5_mm_recall's media brute e..exact
    // head + the centered (v-0.5) sign-pack words at the production rung's
    // 0.5 threshold + Hamming top-3, rolled up to per-query hits
    "x5_mm_binary_recall" ->
      (mediaEToExact + """
         ec AS (SELECT vec_id, list_transform(v, x -> x - 0.5) AS v FROM e),
         b AS (SELECT vec_id,
             """ + binarySignPackWords + """
           FROM ec),
         s AS (SELECT a.vec_id AS q_id, t.vec_id AS n_id,
             """ + binaryHamming + """
           FROM b a, b t WHERE a.vec_id < 5 AND t.vec_id <> a.vec_id),
         r AS (SELECT q_id, n_id, hamming, row_number() OVER (PARTITION BY q_id
             ORDER BY hamming, n_id) AS rank FROM s),
         approx AS (SELECT q_id, n_id, 1 AS hit FROM r WHERE rank <= 3)
         SELECT e.q_id, CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS n_hits,
           round(CAST(sum(coalesce(a.hit, 0)) AS DOUBLE) / 3.0, 4) AS recall
         FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
         GROUP BY e.q_id"""),
    // media probe-budget curve: x5_mm_recall's media brute e..exact head +
    // bb + the mask-indexed qp and the per-budget conditional count, on
    // the media query sample (vec_id < 5)
    "x5_mm_probe_curve" ->
      (mediaEToBb + """
         qp AS (SELECT vec_id, tt, xor(bucket, fl) AS bucket, idx
           FROM bb, (SELECT """ + lshProbeMasksIdx + """) WHERE vec_id < 5),""" + probeCurveCmToJ),
    // media ranking-quality audit: x5_mm_recall's brute + LSH chains
    // keeping ranks on both sides, with x2_rank_quality's
    // graded-recall/MRR tail
    "x5_mm_rank_quality" ->
      (mediaEToXr + """
         exact AS (SELECT q_id, n_id, rank FROM xr WHERE rank <= 3),""" + mediaLshBbToR +
      rankQualityApprox),
    "x5_mm_dedup" ->
      (mediaDedupEToBb + """
         cand AS (SELECT DISTINCT b.vec_id, a.vec_id AS keep_id
           FROM bb a JOIN bb b ON a.tt = b.tt AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id),
         s AS (SELECT c.vec_id, c.keep_id,
             round(list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm), 6) AS cos
           FROM cand c JOIN n t ON t.vec_id = c.vec_id JOIN n q ON q.vec_id = c.keep_id),
         d AS (SELECT vec_id, keep_id, cos, row_number() OVER (PARTITION BY vec_id
             ORDER BY cos DESC, keep_id) AS rk FROM s WHERE cos >= 0.995)
         SELECT vec_id, keep_id AS dup_of, cos FROM d WHERE rk = 1"""),
    "x5_mm_incremental" ->
      (mediaDedupEToBb + """
         cand AS (SELECT DISTINCT b.vec_id, a.vec_id AS match_id
           FROM bb a JOIN bb b ON a.tt = b.tt AND a.bucket = b.bucket
           WHERE b.vec_id < 100 AND a.vec_id >= 100),
         s AS (SELECT c.vec_id, c.match_id,
             round(list_reduce(list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i]),
               (x,y) -> x+y) / (q.nrm * t.nrm), 6) AS cos
           FROM cand c JOIN n t ON t.vec_id = c.vec_id JOIN n q ON q.vec_id = c.match_id),
         d AS (SELECT vec_id, match_id, cos, row_number() OVER (PARTITION BY vec_id
             ORDER BY cos DESC, match_id) AS rk FROM s WHERE cos >= 0.995)
         SELECT vec_id, match_id AS dup_of, cos FROM d WHERE rk = 1"""),
    "x5_frames" ->
      """SELECT doc_id,
         (greatest(length(text) // 64, 1) + 3) // 4 AS n_frames
         FROM documents""",
  )

  // ---- x6: event analytics, sessions and sketches ----
  private def x6: Map[String, String] = Map(
    "x6_tumbling" ->
      """SELECT epoch_us(time_bucket(INTERVAL 1 hour, ts)) AS ws_us, event_type,
         count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    "x6_baseline" ->
      """WITH c AS (SELECT event_type,
             epoch_us(time_bucket(INTERVAL 1 hour, ts)) AS ws_us,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2)
         SELECT event_type, CAST(count(*) AS BIGINT) AS c,
           CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS q
         FROM c GROUP BY 1""",
    "x6_anomaly" ->
      """WITH c AS (SELECT event_type,
             epoch_us(time_bucket(INTERVAL 1 hour, ts)) AS ws_us,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS q
           FROM c GROUP BY 1)
         SELECT c.event_type, c.ws_us, c.n,
           round(CAST(c.n * st.c - st.s AS DOUBLE) /
             sqrt(CAST(st.q * st.c - st.s * st.s AS DOUBLE)), 4) AS z
         FROM c JOIN st ON c.event_type = st.event_type
         WHERE st.q * st.c - st.s * st.s > 0
           AND abs(round(CAST(c.n * st.c - st.s AS DOUBLE) /
             sqrt(CAST(st.q * st.c - st.s * st.s AS DOUBLE)), 4)) >= 2.0""",
    "x6_active_users" ->
      """SELECT epoch_us(time_bucket(INTERVAL 1 hour, ts)) AS ws_us,
         count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY 1""",
    "x6_sliding" ->
      """WITH w AS (SELECT time_bucket(INTERVAL 30 minutes, ts) - k * INTERVAL 30 minutes AS ws,
           event_type, value FROM events, (SELECT unnest([0, 1]) AS k))
         SELECT epoch_us(ws) AS ws_us, event_type, count(*) AS n,
           round(sum(value), 4) / count(*) AS avg_value
         FROM w GROUP BY 1, 2""",
    "x6_asof_join" ->
      """WITH t AS (SELECT user_id, event_id, ts, event_type FROM events
           WHERE event_type IN ('click', 'view')),
         w AS (SELECT user_id, event_id, ts, event_type,
           last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_id,
           last_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
           FROM t)
         SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us,
           last_view_id, last_view_us
         FROM w WHERE event_type = 'click'""",
    "x6_interval_join" ->
      """SELECT e1.user_id, e1.event_id AS a_id, e2.event_id AS b_id,
         epoch_us(e2.ts) - epoch_us(e1.ts) AS gap_us
         FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
           AND epoch_us(e2.ts) > epoch_us(e1.ts)
           AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 60000000""",
    "x6_sessions" ->
      (valueSessionXToZ + """
           ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM y)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           """ + sessionAggSelect),
    // session-length profile: x6_sessions' value-carrying x/y/z chain +
    // session agg, then the dyadic bucket CASE + x6_hist_log_quantiles'
    // sk/cu cumulative read and estimate select
    "x6_session_lengths" ->
      (valueSessionXToZ + """
           ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM y),
         s AS (SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           """ + sessionAggSelect + """),
         b AS (SELECT (session_end_us - session_start_us) // 1000000 AS gap_s FROM s),""" +
      histLogLbToEstimate),
    "x6_session_paths" ->
      (sessionPathsXToT + """
           FROM z)
         SELECT from_type, to_type, count(*) AS n_transitions
         FROM t WHERE to_type IS NOT NULL
         GROUP BY 1, 2
         ORDER BY n_transitions DESC, from_type, to_type LIMIT 10"""),
    // Markov matrix: x6_session_paths' x/y/z/t session chain, full (from,
    // to) counts + the row-normalizing window over the O(types^2)
    // aggregate
    "x6_transitions" ->
      (transitionsXToC + """
           FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n_transitions,
           """ + transitionPNext + """
         FROM c"""),
    // next-best-action: x6_transitions' full chain (x/y/z/t session chain
    // + c count CTE + the p_next normalize formula) + rank 1 per from_type
    // on the EXACT count with the to_type tie-break
    "x6_next_best" ->
      (transitionsXToC + """
           FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
         m AS (SELECT from_type, to_type, n_transitions,
           """ + transitionPNext + """
         FROM c)
         SELECT from_type, to_type AS next_type, n_transitions, p_next
         FROM (SELECT *, row_number() OVER (PARTITION BY from_type
             ORDER BY n_transitions DESC, to_type) AS rk FROM m)
         WHERE rk = 1"""),
    "x6_funnel" ->
      (funnelS1ToS3Open + """
             GROUP BY e.user_id)
         SELECT s1.user_id, t1_us, t2_us, t3_us,
           CAST(1 + CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END
              + CASE WHEN t3_us IS NULL THEN 0 ELSE 1 END AS BIGINT) AS depth
         FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
           LEFT JOIN s3 ON s3.user_id = s1.user_id"""),
    // funnel conversion-latency quantiles: x6_funnel's s1/s2/s3 head ->
    // per-transition whole-second gaps -> the dyadic log-bucket +
    // cumulative upper-edge read, partitioned by step (conversion latency
    // is heavy-tailed: the log-width sketch's domain)
    "x6_funnel_latency" ->
      (funnelS1ToS3 + """
         g AS (SELECT 'view_click' AS step, (t2_us - t1_us) // 1000000 AS gap_s
             FROM s1 JOIN s2 ON s2.user_id = s1.user_id
           UNION ALL
           SELECT 'click_purchase' AS step, (t3_us - t2_us) // 1000000 AS gap_s
             FROM s2 JOIN s3 ON s3.user_id = s2.user_id),
         lb AS (SELECT step, """ + dyadicLogBucket + """g),
         sk AS (SELECT step, bucket, CAST(count(*) AS BIGINT) AS c
           FROM lb GROUP BY 1, 2),
         cu AS (SELECT step, bucket, c,
             CAST(sum(c) OVER (PARTITION BY step ORDER BY bucket) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY step) AS BIGINT) AS n
           FROM sk)
         SELECT step, CAST(max(n) AS BIGINT) AS n,""" + histLogQuantileEstimates + """
         FROM cu GROUP BY step"""),
    // stage conversion rates: x6_funnel's s1/s2/s3 head + per-stage reach
    // counts and the rate vs the previous stage (null, not inf, on an
    // empty stage)
    "x6_funnel_rates" ->
      (funnelS1ToS3 + """
         c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
             (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
             (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n3)
         SELECT CAST(1 AS INTEGER) AS stage, 'view' AS stage_name,
           n1 AS n_reached, round(1::DOUBLE, 6) AS conv_rate FROM c
         UNION ALL SELECT CAST(2 AS INTEGER), 'click', n2,
           round(CAST(n2 AS DOUBLE) / nullif(n1, 0), 6) FROM c
         UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', n3,
           round(CAST(n3 AS DOUBLE) / nullif(n2, 0), 6) FROM c"""),
    "x6_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_idx
             FROM events),
         c AS (SELECT user_id, min(day_idx) AS cohort_day FROM d GROUP BY user_id),
         cells AS (SELECT c.cohort_day, d.day_idx - c.cohort_day AS offset_days,
             CAST(count(*) AS BIGINT) AS n_users
           FROM d JOIN c ON d.user_id = c.user_id GROUP BY 1, 2),
         s AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_cohort
           FROM c GROUP BY cohort_day)
         SELECT cells.cohort_day, cells.offset_days, cells.n_users,
           round(CAST(cells.n_users AS DOUBLE) / s.n_cohort, 6) AS retention
         FROM cells JOIN s ON cells.cohort_day = s.cohort_day""",
    "x6_trending" ->
      ("""WITH p AS (SELECT epoch_us(ts) // 86400000000 AS day_idx,
             """ + propsItemExtract + """
               AS prop_k
           FROM events),
         g AS (SELECT day_idx, prop_k, CAST(count(*) AS BIGINT) AS n FROM p
           WHERE prop_k IS NOT NULL GROUP BY 1, 2),
         r AS (SELECT day_idx, prop_k, n, row_number() OVER (PARTITION BY day_idx
             ORDER BY n DESC, prop_k) AS rank FROM g)
         SELECT day_idx, prop_k, n, CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 3"""),
    // A/B analysis: exact centi-quantized per-arm moments, then the
    // Welch z in doubles with IDENTICAL operand order (each IEEE op
    // correctly rounded => fixed order is bit-identical cross-engine);
    // the significance flag tests the ROUNDED z
    "x6_ab_test" ->
      """WITH m AS (SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 2 AS variant,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT) *
               CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS q
           FROM events GROUP BY 1, 2),
         a AS (SELECT event_type, n AS n_a, s AS s_a, q AS q_a FROM m WHERE variant = 0),
         b AS (SELECT event_type, n AS n_b, s AS s_b, q AS q_b FROM m WHERE variant = 1),
         j AS (SELECT * FROM a JOIN b USING (event_type)
           WHERE n_a > 1 AND n_b > 1 AND
             (n_a * q_a - s_a * s_a > 0 OR n_b * q_b - s_b * s_b > 0)),
         zc AS (SELECT event_type, n_a, n_b,
             round(CAST(s_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * 100), 4) AS mean_a,
             round(CAST(s_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * 100), 4) AS mean_b,
             round((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
                 CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
               sqrt(CAST(n_a * q_a - s_a * s_a AS DOUBLE) /
                   (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))
                 + CAST(n_b * q_b - s_b * s_b AS DOUBLE) /
                   (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))), 4) AS z
           FROM j)
         SELECT event_type, n_a, n_b, mean_a, mean_b, z,
           CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS significant
         FROM zc""",
    // co-visitation: x6_trending's props item-extract formula; capped
    // per-user items (rank by exact count, item tie-break) before the
    // user-keyed pair self-join
    "x6_covisit" ->
      (covisitPToPr + """
           GROUP BY 1, 2)
         SELECT item_a, item_b, n_users FROM pr WHERE n_users >= 2"""),
    // session-scoped co-visitation: a props-carrying session x/y/z head
    // (the gaps-and-islands rule with props in place of event_type) + the
    // covisit discipline one grain down -- items rank per (user, session),
    // the pair join keys on (user, session) so a cross-session pair can
    // never form; carries the props item-extract formula
    "x6_covisit_session" ->
      (sessionCovisitXToPr + """
           GROUP BY 1, 2)
         SELECT item_a, item_b, n_sessions FROM pr WHERE n_sessions >= 2"""),
    // the session shelf: x6_covisit_session's full x..pr chain +
    // symmetrize + exact-count rank
    "x6_also_viewed_session" ->
      (sessionCovisitXToPr + """
           GROUP BY 1, 2),
         sp AS (SELECT item_a, item_b, n_sessions FROM pr WHERE n_sessions >= 2),
         sym AS (SELECT item_a AS item, item_b AS rec, n_sessions FROM sp
           UNION ALL SELECT item_b, item_a, n_sessions FROM sp)
         SELECT item, rec, n_sessions, CAST(rank AS BIGINT) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY item
             ORDER BY n_sessions DESC, rec) AS rank FROM sym)
         WHERE rank <= 3"""),
    // "also viewed": the same p/ui/cap/pr chain + symmetrize + rank
    "x6_also_viewed" ->
      (covisitPToSp + """
         sym AS (SELECT item_a AS item, item_b AS rec, n_users FROM sp
           UNION ALL SELECT item_b, item_a, n_users FROM sp)
         SELECT item, rec, n_users, CAST(rank AS BIGINT) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY item
             ORDER BY n_users DESC, rec) AS rank FROM sym)
         WHERE rank <= 3"""),
    // association rules: the same p/ui/cap/pr chain + per-item
    // marginals and the user universe from the SAME capped frame;
    // confidence and lift are the only floats (one rounded division
    // each, identical operand order on both engines)
    "x6_item_lift" ->
      (covisitPToSp + """
         ma AS (SELECT item, CAST(count(*) AS BIGINT) AS n_i FROM cap GROUP BY 1),
         nn AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_u FROM cap)
         SELECT item_a, item_b, n_users AS n_ab, a.n_i AS n_a, b.n_i AS n_b,
           round(CAST(n_users AS DOUBLE) / CAST(a.n_i AS DOUBLE), 6) AS confidence,
           round(CAST(n_users AS DOUBLE) * CAST(n_u AS DOUBLE) /
             (CAST(a.n_i AS DOUBLE) * CAST(b.n_i AS DOUBLE)), 6) AS lift
         FROM sp JOIN ma a ON a.item = sp.item_a
           JOIN ma b ON b.item = sp.item_b CROSS JOIN nn"""),
    "x6_bot_score" ->
      ("""WITH e AS (SELECT user_id, event_type,
             epoch_us(ts) // 86400000000 AS day FROM events),
         d AS (SELECT user_id, CAST(count(DISTINCT day) AS BIGINT) AS n_days
           FROM e GROUP BY 1),
         tc AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS k
           FROM e GROUP BY 1, 2),
         ag AS (SELECT user_id, CAST(sum(k) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(k * """ + entropyMicroNatTerm + """)
               AS BIGINT) AS s
           FROM tc GROUP BY 1),
         sc AS (SELECT user_id, n_events, n_types,
             round(CAST(CAST(floor(ln(n_events) * 1000000 + 0.5) AS BIGINT) *
                 n_events - s AS DOUBLE) /
               (CAST(n_events AS DOUBLE) * 1000000), 6) AS type_entropy
           FROM ag),
         j AS (SELECT sc.user_id, n_events, n_days, n_types,
             round(CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE), 4)
               AS events_per_day,
             type_entropy
           FROM sc JOIN d ON d.user_id = sc.user_id)
         SELECT user_id, n_events, n_days, n_types, events_per_day,
           type_entropy,
           (events_per_day > 2.5 AND type_entropy < 1.58) AS bot_flag
         FROM j"""),
    "x6_hll_users" ->
      ("""WITH h AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id,
           """ + hllUserHash + """
           FROM events),
         reg AS (SELECT day, h & 63 AS j,
             """ + hllRegisterRank + """
           FROM h GROUP BY 1, 2),
         grid AS (SELECT d.day, gg.j, COALESCE(reg.reg, 0) AS reg
           FROM (SELECT DISTINCT day FROM h) d
           CROSS JOIN (SELECT unnest(range(64)) AS j) gg
           LEFT JOIN reg ON reg.day = d.day AND reg.j = gg.j),
         s AS (SELECT day,
             """ + hllHarmonicSum + """,
             CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
           FROM grid GROUP BY 1),
         ex AS (SELECT day, count(DISTINCT user_id) AS n_exact FROM h GROUP BY 1),
         est AS (SELECT day, n_exact, v AS v_empty,
             CASE WHEN v > 0 AND 0.709::DOUBLE * 64 * 64 * 67108864.0 / z <= 160.0
               THEN 64.0 * ln(64.0 / v)
               ELSE 0.709::DOUBLE * 64 * 64 * 67108864.0 / z END AS e
           FROM s JOIN ex USING (day))
         SELECT day, n_exact, v_empty, round(e, 4) AS hll_users,
           round((e - n_exact) / n_exact, 6) AS rel_err
         FROM est"""),
    "x6_hll_global" ->
      (hllHToS + """
           FROM grid),
         ex AS (SELECT count(DISTINCT user_id) AS n_exact FROM h),
         est AS (SELECT n_exact, v AS v_empty,
             CASE WHEN v > 0 AND 0.709::DOUBLE * 64 * 64 * 67108864.0 / z <= 160.0
               THEN 64.0 * ln(64.0 / v)
               ELSE 0.709::DOUBLE * 64 * 64 * 67108864.0 / z END AS e
           FROM s, ex)
         SELECT n_exact, v_empty, round(e, 4) AS hll_users,
           round(CASE WHEN n_exact = 0 THEN 0.0
             ELSE (e - n_exact) / n_exact END, 6) AS rel_err
         FROM est"""),
    // x6_hll_global's register/estimate chain WITHOUT the exact-audit
    // branch — the serve path folds stored sketches only, so its output is
    // what a raw-free plan can produce (Profiling's register table and
    // its one estimate fold derive the same hash/m/K/estimate; see CLAUDE.md)
    "x6_hll_serve" ->
      (hllHToS + """
           FROM grid)
         SELECT v AS v_empty,
           round(CASE WHEN v > 0 AND 0.709::DOUBLE * 64 * 64 * 67108864.0 / z <= 160.0
             THEN 64.0 * ln(64.0 / v)
             ELSE 0.709::DOUBLE * 64 * 64 * 67108864.0 / z END, 4) AS hll_users
         FROM s"""),
    // the HLL register chain with each day sketch fanned to its
    // trailing-7-day report days and MAX-folded per report day: the
    // rolling-WAU sketch algebra
    "x6_rolling_hll" ->
      (hllHToReg0 + """
         fan AS (SELECT day + o AS day, j, reg
           FROM reg0, (SELECT unnest(range(7)) AS o)),
         fr AS (SELECT day, j, MAX(reg) AS reg FROM fan GROUP BY 1, 2),
         grid AS (SELECT d.day, gg.j, COALESCE(fr.reg, 0) AS reg
           FROM (SELECT DISTINCT day FROM h) d
           CROSS JOIN (SELECT unnest(range(64)) AS j) gg
           LEFT JOIN fr ON fr.day = d.day AND fr.j = gg.j),
         s AS (SELECT day,
             """ + hllHarmonicSum + """,
             CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
           FROM grid GROUP BY 1)
         SELECT day, v AS v_empty,
           round(CASE WHEN v > 0 AND 0.709::DOUBLE * 64 * 64 * 67108864.0 / z <= 160.0
             THEN 64.0 * ln(64.0 / v)
             ELSE 0.709::DOUBLE * 64 * 64 * 67108864.0 / z END, 4) AS hll_active
         FROM s"""),
    // fixed-width histogram sketch: floor(value/5) bucket counts per event
    // type
    "x6_hist_sketch" ->
      ("""SELECT event_type, """ + histBucket + """,
           CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2"""),
    // sketch-served quantiles: cumulative bucket mass, threshold
    // ceil(p·n) computed in DOUBLE on both engines, estimate = upper
    // bucket edge (exact multiple of the width)
    "x6_hist_quantiles" ->
      ("""WITH """ + histSkToCu + """
         """ + histEstimate),
    // LOG-width (dyadic) gap histogram over the e/g/b gap stream
    "x6_hist_log_sketch" ->
      (gapEToB + """
         lb AS (SELECT """ + dyadicLogBucket + """b)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_gaps,
           round(""" + dyadicBucketUpperEdge + """, 2) AS hi_edge
         FROM lb GROUP BY 1"""),
    // gap quantiles from the dyadic buckets
    "x6_hist_log_quantiles" ->
      (gapEToB + histLogLbToEstimate),
    // log-sketch accuracy: exact integer-gap order statistics vs the
    // dyadic estimates (the quantiles select as es); error bound uses
    // the PER-BUCKET width 2^octave/4 of the bucket the exact
    // quantile lands in
    "x6_hist_log_accuracy" ->
      (gapEToB + histLogLbToCu + """
           FROM sk),
         es AS (SELECT CAST(max(n) AS BIGINT) AS n,""" + histLogQuantileEstimates + """
         FROM cu),
         gg AS (SELECT gap_s, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
         gc AS (SELECT gap_s, c,
             CAST(sum(c) OVER (ORDER BY gap_s) AS BIGINT) AS cum,
             CAST(sum(c) OVER () AS BIGINT) AS n
           FROM gg),
         ex AS (SELECT CAST(max(n) AS BIGINT) AS n,
             min(CASE WHEN cum >= CAST(ceil(0.5::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
               THEN gap_s END) AS p50_exact,
             min(CASE WHEN cum >= CAST(ceil(0.9::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
               THEN gap_s END) AS p90_exact,
             min(CASE WHEN cum >= CAST(ceil(0.99::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
               THEN gap_s END) AS p99_exact
           FROM gc),
         j AS (SELECT ex.n,
             ex.p50_exact, es.p50_est,
             round(es.p50_est - CAST(ex.p50_exact AS DOUBLE), 2) AS p50_err,
             ex.p90_exact, es.p90_est,
             round(es.p90_est - CAST(ex.p90_exact AS DOUBLE), 2) AS p90_err,
             ex.p99_exact, es.p99_est,
             round(es.p99_est - CAST(ex.p99_exact AS DOUBLE), 2) AS p99_err
           FROM ex, es)
         SELECT n, p50_exact, p50_est, p50_err,
           p90_exact, p90_est, p90_err, p99_exact, p99_est, p99_err,
           CAST(CASE WHEN p50_err >= 0 AND p50_err <=
               (CASE WHEN p50_exact <= 0 THEN CAST(0 AS DOUBLE) ELSE CAST(1::BIGINT << (length(bin(p50_exact)) - 1) AS DOUBLE) / 4.0 END)
             AND p90_err >= 0 AND p90_err <=
               (CASE WHEN p90_exact <= 0 THEN CAST(0 AS DOUBLE) ELSE CAST(1::BIGINT << (length(bin(p90_exact)) - 1) AS DOUBLE) / 4.0 END)
             AND p99_err >= 0 AND p99_err <=
               (CASE WHEN p99_exact <= 0 THEN CAST(0 AS DOUBLE) ELSE CAST(1::BIGINT << (length(bin(p99_exact)) - 1) AS DOUBLE) / 4.0 END)
             THEN 1 ELSE 0 END AS BIGINT) AS within_width
         FROM j"""),
    // per-day gap quantiles at the dyadic daily grain; a gap belongs to
    // the day of its CLOSING event
    "x6_hist_log_daily" ->
      (histLogDailyEToSk + """
         cu AS (SELECT day, bucket, c,
             CAST(sum(c) OVER (PARTITION BY day ORDER BY bucket) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY day) AS BIGINT) AS n
           FROM sk)""" + histLogDailyEstimate + """
         FROM cu GROUP BY 1"""),
    // rolling 7-day gap quantiles by SUM-MERGING the daily dyadic sketches
    // over the day-keyed e..sk gap head
    "x6_hist_log_rolling" ->
      (histLogDailyEToSk + """
         fan AS (SELECT day + o AS day, bucket, c
           FROM sk, (SELECT unnest(range(7)) AS o)),
         rs AS (SELECT day, bucket, CAST(sum(c) AS BIGINT) AS c
           FROM fan GROUP BY 1, 2),
         rd AS (SELECT DISTINCT day FROM sk),
         rs2 AS (SELECT rs.day, rs.bucket, rs.c
           FROM rs JOIN rd ON rd.day = rs.day),
         rcu AS (SELECT day, bucket, c,
             CAST(sum(c) OVER (PARTITION BY day ORDER BY bucket) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY day) AS BIGINT) AS n
           FROM rs2)""" + histLogDailyEstimate + """
         FROM rcu GROUP BY 1"""),
    // per-(type, day) sketch quantiles over the dsk day CTE
    "x6_hist_daily" ->
      (histDsk + """
         dcu AS (SELECT event_type, day, bucket, c,
             CAST(sum(c) OVER (PARTITION BY event_type, day ORDER BY bucket) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type, day) AS BIGINT) AS n
           FROM dsk)""" + histDailyEstimate + """
         FROM dcu GROUP BY 1, 2"""),
    // rolling 7-day quantiles by SUM-MERGING the daily sketches (the
    // x6_rolling_hll fan pattern on counters) over the dsk day CTE
    "x6_hist_rolling" ->
      (histDsk + """
         fan AS (SELECT event_type, day + o AS day, bucket, c
           FROM dsk, (SELECT unnest(range(7)) AS o)),
         rs AS (SELECT event_type, day, bucket, CAST(sum(c) AS BIGINT) AS c
           FROM fan GROUP BY 1, 2, 3),
         rd AS (SELECT DISTINCT event_type, day FROM dsk),
         rs2 AS (SELECT rs.event_type, rs.day, rs.bucket, rs.c
           FROM rs JOIN rd ON rd.event_type = rs.event_type AND rd.day = rs.day),
         rcu AS (SELECT event_type, day, bucket, c,
             CAST(sum(c) OVER (PARTITION BY event_type, day ORDER BY bucket) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type, day) AS BIGINT) AS n
           FROM rs2)""" + histDailyEstimate + """
         FROM rcu GROUP BY 1, 2"""),
    // sketch accuracy audit: centi-quantized exact order statistics
    // (bounded-domain cumulative window) vs the sketch estimates
    "x6_hist_accuracy" ->
      ("""WITH qg AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS q,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         qc AS (SELECT event_type, q, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY q) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
           FROM qg),
         ex AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             round(CAST(min(CASE WHEN cum >= CAST(ceil(0.5::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
               THEN q END) AS DOUBLE) / 100.0, 2) AS p50_exact,
             round(CAST(min(CASE WHEN cum >= CAST(ceil(0.9::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
               THEN q END) AS DOUBLE) / 100.0, 2) AS p90_exact,
             round(CAST(min(CASE WHEN cum >= CAST(ceil(0.99::DOUBLE * CAST(n AS DOUBLE)) AS BIGINT)
               THEN q END) AS DOUBLE) / 100.0, 2) AS p99_exact
           FROM qc GROUP BY 1),
         """ + histSkToCu + """,
         es AS (""" + histEstimate + """),
         j AS (SELECT ex.event_type, ex.n,
             ex.p50_exact, es.p50_est, round(es.p50_est - ex.p50_exact, 2) AS p50_err,
             ex.p90_exact, es.p90_est, round(es.p90_est - ex.p90_exact, 2) AS p90_err,
             ex.p99_exact, es.p99_est, round(es.p99_est - ex.p99_exact, 2) AS p99_err
           FROM ex JOIN es ON es.event_type = ex.event_type)
         SELECT event_type, n, p50_exact, p50_est, p50_err,
           p90_exact, p90_est, p90_err, p99_exact, p99_est, p99_err,
           CAST(CASE WHEN p50_err >= 0 AND p50_err <= 5 AND p90_err >= 0 AND p90_err <= 5
             AND p99_err >= 0 AND p99_err <= 5 THEN 1 ELSE 0 END AS BIGINT) AS within_width
         FROM j"""),
    "x6_cms_sketch" ->
      (cmsCntToSkOpen + """
           GROUP BY 1, 2)
         SELECT tbl, bucket, c FROM sk"""),
    "x6_cms_topk" ->
      (cmsCntToSk + """
         top AS (SELECT token, c AS exact, row_number() OVER (
             ORDER BY c DESC, token) AS rk FROM cnt),
         pr AS (SELECT token, exact, rk, CAST(tt AS BIGINT) AS tbl,
             CAST(('0x' || substr(md5(CAST(tt AS VARCHAR) || ':' || token), 1, 15))
               AS BIGINT) % 512 AS bucket
           FROM top CROSS JOIN (SELECT unnest(range(4)) AS tt) tts
           WHERE rk <= 20),
         est AS (SELECT p.token, p.rk, p.exact, CAST(min(s.c) AS BIGINT) AS est
           FROM pr p JOIN sk s ON s.tbl = p.tbl AND s.bucket = p.bucket
           GROUP BY 1, 2, 3)
         SELECT token, CAST(rk AS INTEGER) AS rank, exact, est,
           est - exact AS overest
         FROM est"""),
    "x6_cms_serve" ->
      (cmsCntToSk + """
         bt AS (SELECT DISTINCT token FROM (
             SELECT unnest(string_split(text, ' ')) AS token FROM documents
             WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 100 < 7)),
         pr AS (SELECT token, CAST(tt AS BIGINT) AS tbl,
             CAST(('0x' || substr(md5(CAST(tt AS VARCHAR) || ':' || token), 1, 15))
               AS BIGINT) % 512 AS bucket
           FROM bt CROSS JOIN (SELECT unnest(range(4)) AS tt) tts)
         SELECT p.token, CAST(min(coalesce(s.c, 0)) AS BIGINT) AS est
         FROM pr p LEFT JOIN sk s ON s.tbl = p.tbl AND s.bucket = p.bucket
         GROUP BY p.token"""),
    "x6_audience_overlap" ->
      (kmvDuToDp + """
           FROM (SELECT DISTINCT day FROM du) a
           JOIN (SELECT DISTINCT day FROM du) b ON a.day < b.day),""" + kmvUToFl + """
           GROUP BY 1, 2),
         nd AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM du GROUP BY 1),
         iv AS (SELECT x.day AS da, y.day AS db, CAST(count(*) AS BIGINT) AS inter
           FROM du x JOIN du y ON x.user_id = y.user_id AND x.day < y.day
           GROUP BY 1, 2)
         SELECT fl.da AS day_a, fl.db AS day_b,
           round(nboth / 32.0, 6) AS est_jaccard,
           round(COALESCE(iv.inter, 0) /
             CAST(na.n + nb.n - COALESCE(iv.inter, 0) AS DOUBLE), 6) AS exact_jaccard
         FROM fl
         JOIN nd na ON na.day = fl.da
         JOIN nd nb ON nb.day = fl.db
         LEFT JOIN iv ON iv.da = fl.da AND iv.db = fl.db"""),
    // x6_audience_overlap's sketch chain WITHOUT the exact-audit CTEs
    // (nd/iv) — the serve path folds stored signatures only
    "x6_kmv_serve" ->
      (kmvDuToDp + """
           FROM (SELECT DISTINCT day FROM sig) a
           JOIN (SELECT DISTINCT day FROM sig) b ON a.day < b.day),""" + kmvUToFl + """
           GROUP BY 1, 2)
         SELECT da AS day_a, db AS day_b,
           round(nboth / 32.0, 6) AS est_jaccard
         FROM fl"""),
    "x6_heatmap" ->
      """SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
           (epoch_us(ts) // 3600000000) % 24 AS hour,
           CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    "x6_rolling_active" ->
      """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
           FROM events),
         fan AS (SELECT user_id, unnest(range(day, day + 7)) AS day FROM du),
         days AS (SELECT DISTINCT day FROM du)
         SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
         FROM fan JOIN days USING (day) GROUP BY day""",
    "x6_new_users" ->
      """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
           FROM events),
         f AS (SELECT user_id, min(day) AS first_day FROM du GROUP BY 1)
         SELECT day,
           CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returning
         FROM du JOIN f USING (user_id) GROUP BY day""",
    "x6_stickiness" ->
      """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
           FROM events),
         dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
         wu AS (SELECT DISTINCT epoch_us(ts) // 86400000000 // 7 AS week, user_id
           FROM events),
         wau AS (SELECT week, CAST(count(*) AS BIGINT) AS wau FROM wu GROUP BY 1)
         SELECT day, dau, wau,
           round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
         FROM dau JOIN wau ON wau.week = dau.day // 7""",
    // week-over-week churn via the same map-side fan-out the Spark
    // side uses: each (user, week) row informs week (as current) and
    // week+1 (as previous); report rows only for observed weeks
    "x6_churn" ->
      """WITH uw AS (SELECT DISTINCT epoch_us(ts) // 86400000000 // 7 AS week,
             user_id FROM events),
         tg AS (SELECT user_id, week, 1 AS cur, 0 AS prev FROM uw
                UNION ALL
                SELECT user_id, week + 1, 0, 1 FROM uw),
         f AS (SELECT user_id, week, max(cur) AS cur, max(prev) AS prev
           FROM tg GROUP BY 1, 2),
         c AS (SELECT week,
             CAST(sum(CASE WHEN cur = 1 AND prev = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
             CAST(sum(CASE WHEN cur = 1 AND prev = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gained,
             CAST(sum(CASE WHEN cur = 0 AND prev = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_churned
           FROM f GROUP BY 1)
         SELECT c.week, c.n_retained, c.n_gained, c.n_churned FROM c
         WHERE c.week IN (SELECT week FROM uw)""",
    // per-type OLS of daily count on day offset: four exact int64
    // moments, slope and intercept each ONE division (zipf discipline)
    "x6_trend" ->
      (trendCToM + """
           FROM xy GROUP BY 1 HAVING count(*) >= 2)
         SELECT event_type, n_days, sy AS n_events,
           round(CAST(n_days*sxy - sx*sy AS DOUBLE) /
                 CAST(n_days*sxx - sx*sx AS DOUBLE), 6) AS slope,
           round(CAST(sy*sxx - sx*sxy AS DOUBLE) /
                 CAST(n_days*sxx - sx*sx AS DOUBLE), 6) AS intercept
         FROM m"""),
    // the x6_trend chain plus the residual-vs-fitted-line z: residuals
    // computed from the ROUNDED slope/intercept in identical operand
    // order, quantized to 1e-4, then the (n·q − S)/sqrt(n·Q − S²) z form
    "x6_trend_anomaly" ->
      (trendCToM + """
           FROM xy GROUP BY 1 HAVING count(*) >= 2),
         fit AS (SELECT event_type,
             round(CAST(n_days*sxy - sx*sy AS DOUBLE) /
                   CAST(n_days*sxx - sx*sx AS DOUBLE), 6) AS slope,
             round(CAST(sy*sxx - sx*sxy AS DOUBLE) /
                   CAST(n_days*sxx - sx*sx AS DOUBLE), 6) AS intercept
           FROM m),
         r AS (SELECT c.event_type, c.day, c.n,
             CAST(floor((c.n - (fit.slope * (c.day - m0.d0) + fit.intercept))
               * 10000 + 0.5) AS BIGINT) AS rq
           FROM c JOIN m0 ON m0.event_type = c.event_type
           JOIN fit ON fit.event_type = c.event_type),
         rm AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nn,
             CAST(sum(rq) AS BIGINT) AS s, CAST(sum(rq*rq) AS BIGINT) AS s2
           FROM r GROUP BY 1 HAVING count(*)*CAST(sum(rq*rq) AS BIGINT)
             - CAST(sum(rq) AS BIGINT)*CAST(sum(rq) AS BIGINT) > 0),
         z AS (SELECT r.event_type, r.day, r.n,
             round(CAST(r.rq AS DOUBLE) / 10000.0, 4) AS resid,
             round(CAST(rm.nn*r.rq - rm.s AS DOUBLE) /
               sqrt(CAST(rm.nn*rm.s2 - rm.s*rm.s AS DOUBLE)), 4) AS z
           FROM r JOIN rm ON rm.event_type = r.event_type)
         SELECT event_type, day, n, resid, z,
           CAST(CASE WHEN abs(z) > 2.0 THEN 1 ELSE 0 END AS BIGINT) AS anomaly
         FROM z"""),
    // weekly seasonality: the c/d/g dow-moment head, pure int64
    // arithmetic; the share window runs over the O(types*7) profile frame
    "x6_seasonality" ->
      (dowCToG + """
         SELECT event_type, dow, n_days, s AS n_events,
           round(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE), 4) AS mean_daily,
           round(CAST(s AS DOUBLE) /
             CAST(sum(s) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS share
         FROM g"""),
    // dow-aware anomaly: the c/d/g head + the exact-int64
    // (n·q − S)/sqrt(n·Q − S²) z within each (type, dow) group
    // (x6_trend_anomaly's form; counts are already integers so no
    // quantization step)
    "x6_seasonal_anomaly" ->
      (dowCToG + """,
         m AS (SELECT * FROM g WHERE n_days * s2 - s * s > 0),
         z AS (SELECT d.event_type, d.day, d.dow, d.n,
             round(CAST(m.n_days * d.n - m.s AS DOUBLE) /
               sqrt(CAST(m.n_days * m.s2 - m.s * m.s AS DOUBLE)), 4) AS z
           FROM d JOIN m ON m.event_type = d.event_type AND m.dow = d.dow)
         SELECT event_type, day, dow, n, z,
           CAST(CASE WHEN abs(z) > 2.0 THEN 1 ELSE 0 END AS BIGINT) AS anomaly
         FROM z"""),
    // multi-touch attribution: user-keyed touch<->purchase join within
    // the 7-day lookback, first/last via per-purchase row_number with
    // full tie-breaks, linear via value/n_t; every per-row credit
    // quantizes to 1e-4 int64 units BEFORE summing so the totals are
    // addition-order-independent on both engines
    "x6_attribution" ->
      (attributionPToTch + """
         j AS (SELECT p.p_id, p.value, t.touch_type, t.t_us, t.t_id
           FROM p JOIN tch t ON t.user_id = p.user_id AND t.t_us < p.p_us
             AND p.p_us - t.t_us <= 604800000000),
         fl AS (SELECT *,
             row_number() OVER (PARTITION BY p_id ORDER BY t_us, t_id) AS rk_first,
             row_number() OVER (PARTITION BY p_id ORDER BY t_us DESC, t_id DESC) AS rk_last,
             CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n_t
           FROM j)
         SELECT 'first_touch' AS model, touch_type,
           CAST(count(*) AS BIGINT) AS n_conversions,
           round(CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0, 4) AS credit
         FROM fl WHERE rk_first = 1 GROUP BY 2
         UNION ALL SELECT 'last_touch', touch_type,
           CAST(count(*) AS BIGINT),
           round(CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0, 4)
         FROM fl WHERE rk_last = 1 GROUP BY 2
         UNION ALL SELECT 'linear', touch_type,
           CAST(count(DISTINCT p_id) AS BIGINT),
           round(CAST(sum(CAST(floor(value / n_t * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0, 4)
         FROM fl GROUP BY 2
         UNION ALL SELECT 'unattributed', 'none',
           CAST(count(*) AS BIGINT),
           round(CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0, 4)
         FROM p LEFT JOIN (SELECT DISTINCT p_id FROM j) a ON a.p_id = p.p_id
         WHERE a.p_id IS NULL"""),
    // time-decay attribution: weight = 1 <<
    // (7 - age_days) is an EXACT int64 (never libm pow), the per-purchase
    // share w/sw an exact rational; credit quantizes to 1e-4 units before
    // summing
    "x6_attribution_decay" ->
      (attributionPToTch + """
         j AS (SELECT p.p_id, p.p_us, p.value, t.touch_type, t.t_us, t.t_id
           FROM p JOIN tch t ON t.user_id = p.user_id AND t.t_us < p.p_us
             AND p.p_us - t.t_us <= 604800000000),
         w AS (SELECT p_id, value, touch_type,
             (1::BIGINT << CAST(7 - (p_us - t_us) // 86400000000 AS INTEGER)) AS w
           FROM j),
         s AS (SELECT *, CAST(sum(w) OVER (PARTITION BY p_id) AS BIGINT) AS sw FROM w)
         SELECT touch_type, CAST(count(DISTINCT p_id) AS BIGINT) AS n_conversions,
           round(CAST(sum(CAST(floor(value * CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)
             * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS credit
         FROM s GROUP BY 1"""),
    "x6_gap_hist" ->
      (gapEToBLast + """
         SELECT CAST(length(bin(gap_s)) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_gaps,
           min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
         FROM b GROUP BY 1"""),
    "x6_cohort_value" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, value
             FROM events),
         f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
         SELECT f.cohort_day, e.day - f.cohort_day AS age_days,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
         FROM e JOIN f ON f.user_id = e.user_id GROUP BY 1, 2""",
    "x6_lifetime" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             event_type FROM events)
         SELECT user_id, min(day) AS first_day, max(day) AS last_day,
           max(day) - min(day) + 1 AS span_days,
           CAST(count(DISTINCT day) AS BIGINT) AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           round(CAST(count(DISTINCT day) AS DOUBLE) /
                 CAST(max(day) - min(day) + 1 AS DOUBLE), 6)
             AS activity_density
         FROM e GROUP BY user_id""",
    "x6_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         g AS (SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
           FROM d),
         s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
             min(day) AS start_day
           FROM g GROUP BY 1, 2),
         f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
             CAST(sum(len) AS BIGINT) AS n_days, max(len) AS max_streak
           FROM s GROUP BY 1),
         r AS (SELECT user_id, start_day, row_number() OVER (PARTITION BY user_id
             ORDER BY len DESC, start_day) AS rk FROM s)
         SELECT f.user_id, f.n_streaks, f.n_days, f.max_streak,
           r.start_day AS best_start
         FROM f JOIN r ON r.user_id = f.user_id AND r.rk = 1""",
  )

  // ---- x7: curation pipelines ----
  private def x7: Map[String, String] = Map(
    // composes the stored-artifact probe chains: fingerprint set, the
    // x4_incremental band chain, the x4_span_incremental span chain, and
    // the x4_decontaminate 3-gram chain; incoming = 50 <= id < 100, index
    // = id >= 100, bench = id < 50
    "x7_curate_incremental" ->
      ("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         fps AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id >= 100),
         fpf AS (SELECT doc_id, CASE WHEN fps.fp IS NOT NULL THEN 1 ELSE 0 END AS fhit
           FROM (SELECT doc_id, md5(text) AS fp FROM documents
                 WHERE doc_id >= 50 AND doc_id < 100) i
           LEFT JOIN fps ON fps.fp = i.fp),
         mh AS (SELECT doc_id, list_transform(""" + minhashSig + """
           FROM mh),
         bd AS (SELECT doc_id, b, """ + minhashBandKey + """
           FROM sig, (SELECT unnest(range(4)) AS b)),
         bidx AS (SELECT b, key FROM bd WHERE doc_id >= 100 GROUP BY b, key),
         bh AS (SELECT DISTINCT i.doc_id FROM bd i
           JOIN bidx x ON i.b = x.b AND i.key = x.key
           WHERE i.doc_id >= 50 AND i.doc_id < 100),
         sp AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 7),
             i -> CAST(('0x' || substr(md5(array_to_string(t[i+1:i+8], ' ')), 1, 15)) AS BIGINT)))) AS sh
           FROM tk WHERE len(t) >= 8),
         sidx AS (SELECT DISTINCT sh FROM sp WHERE doc_id >= 100),
         sfrac AS (SELECT inc.doc_id,
             round(CAST(sum(CASE WHEN sidx.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS index_frac
           FROM (SELECT doc_id, sh FROM sp WHERE doc_id >= 50 AND doc_id < 100) inc
           LEFT JOIN sidx ON sidx.sh = inc.sh GROUP BY 1),
         shg AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
           FROM tk WHERE len(t) >= 3),
         inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM shg),
         ct AS (SELECT DISTINCT c.doc_id
           FROM inv c JOIN inv b ON c.shingle = b.shingle
           WHERE c.doc_id >= 50 AND c.doc_id < 100 AND b.doc_id < 50
           GROUP BY c.doc_id, b.doc_id
           HAVING count(*) >= 5)
         SELECT d.doc_id,
           fpf.fhit = 1 AS fp_dup,
           bh.doc_id IS NOT NULL AS band_hit,
           COALESCE(sfrac.index_frac, 0.0) AS span_frac,
           ct.doc_id IS NOT NULL AS contaminated,
           (fpf.fhit = 0 AND bh.doc_id IS NULL
             AND COALESCE(sfrac.index_frac, 0.0) <= 0.5
             AND ct.doc_id IS NULL) AS kept
         FROM (SELECT doc_id FROM documents
               WHERE doc_id >= 50 AND doc_id < 100) d
         JOIN fpf ON fpf.doc_id = d.doc_id
         LEFT JOIN bh ON bh.doc_id = d.doc_id
         LEFT JOIN sfrac ON sfrac.doc_id = d.doc_id
         LEFT JOIN ct ON ct.doc_id = d.doc_id"""),
    "x7_curate" ->
      (curateKeep1ToD3 + curatePacked),
    // perplexity-gated curation: x7_curate's keep1/d1 exact-dedup head +
    // the x3_unigram_logprob arithmetic (l-prefixed CTEs; integer
    // micro-nats, one division, one rounding) as the stage-2 gate (drop
    // the bottom 10% avg logprob per language) + x7_curate's tk..ov
    // decontam block and packed tail
    "x7_curate_lm" ->
      ("""WITH """ + exactDedupKeep1 + """,
         d1 AS (SELECT d.* FROM documents d JOIN keep1 k ON d.doc_id = k.doc_id),
         ltk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents),
         lpd AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k
           FROM ltk GROUP BY doc_id, tok),
         lc AS (SELECT tok, CAST(sum(k) AS BIGINT) AS c FROM lpd GROUP BY tok),
         lnn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM lc),
         ls AS (SELECT lpd.doc_id, lpd.k,
             CAST(floor(ln(CAST(lc.c AS DOUBLE) / CAST(lnn.n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lp6
           FROM lpd JOIN lc ON lc.tok = lpd.tok, lnn),
         la AS (SELECT doc_id, round(CAST(sum(k * lp6) AS DOUBLE) /
             (CAST(sum(k) AS BIGINT) * 1000000.0), 6) AS alp
           FROM ls GROUP BY doc_id),
         r AS (SELECT d.doc_id,
             round(percent_rank() OVER (PARTITION BY d.lang
               ORDER BY la.alp, d.doc_id), 6) AS pr
           FROM d1 d JOIN la ON la.doc_id = d.doc_id),
         d2 AS (SELECT d1.* FROM d1 JOIN r ON d1.doc_id = r.doc_id
           WHERE r.pr >= 0.1 AND d1.doc_id >= 50),""" + curateTkToPacked),
    // dataset-release build: the x7_curate head through d3 + the
    // x4_cluster chain retargeted to the survivors (ctk/l0 read FROM d3;
    // every minhash formula byte-identical) + the x1_grouped_split
    // hash-split tail
    "x7_curate_split" ->
      (curateSplitKeep1ToL3 + """
           ON m.doc_id = l.doc_id)
         SELECT l3.doc_id, l3.cluster,""" + curateSplitColumns + """
         FROM l3 JOIN d3 d ON d.doc_id = l3.doc_id"""),
    // the x7_curate chain with the x1_temperature thin computed over the
    // SURVIVORS (d3) before packing
    "x7_curate_mixture" ->
      (curateKeep1ToD3 + """
         tc AS (SELECT source, count(*) AS n_docs FROM d3 GROUP BY source),
         tm AS (SELECT min(n_docs) AS n_min FROM tc),
         tr AS (SELECT source,
             """ + temperatureWeight + """ AS frac
           FROM tc, tm),
         d4 AS (SELECT d3.* FROM d3 JOIN tr ON tr.source = d3.source
           WHERE CAST(('0x' || substr(md5(CAST(d3.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
             < CAST(tr.frac * 1000000 AS BIGINT)),""" + curateMixturePacked),
    "x7_curate_verbatim" ->
      (curateKeep1ToD3 + """
         sp AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 7),
             i -> CAST(('0x' || substr(md5(array_to_string(t[i+1:i+8], ' ')), 1, 15)) AS BIGINT)))) AS spanh
           FROM tk WHERE len(t) >= 8),
         spdf AS (SELECT spanh, count(*) AS ndocs FROM sp GROUP BY 1),
         spflag AS (SELECT doc_id FROM sp JOIN spdf USING (spanh)
           GROUP BY 1
           HAVING round(CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(count(*) AS DOUBLE), 6) > 0.5),
         d4 AS (SELECT * FROM d3 WHERE doc_id NOT IN (SELECT doc_id FROM spflag)),""" +
      curateMixturePacked),
    "x7_curate_curriculum" ->
      (curateKeep1ToD3 + """
         cq AS (SELECT doc_id, source, quality FROM d3
           JOIN q USING (doc_id)),
         cr AS (SELECT doc_id, source, quality, row_number() OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id) AS rank FROM cq),
         ct AS (SELECT * FROM cr WHERE rank <= 100),
         cs AS (SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT)
             AS src_idx FROM (SELECT DISTINCT source FROM ct)),
         cn AS (SELECT count(*) AS n_src FROM cs)
         SELECT ct.doc_id, ct.source, ct.quality,
           CAST((ct.rank - 1) * cn.n_src + cs.src_idx - 1 AS BIGINT) AS global_pos
         FROM ct JOIN cs ON ct.source = cs.source, cn"""),
    "x7_curate_semantic" ->
      ("""WITH """ + exactDedupKeep1 + """,
         d1 AS (SELECT d.* FROM documents d JOIN keep1 k ON d.doc_id = k.doc_id),
         es AS (SELECT e0.vec_id, list_transform(e0.embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings e0 JOIN d1 ON d1.doc_id = e0.vec_id),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM es),""" +
      ivfC0ToA1 + """
         dd1 AS (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM a1),
         s1 AS (SELECT cell, pos, sum(val) AS s, count(*) AS cnt FROM dd1 GROUP BY cell, pos),""" +
      ivfU1ToA2 + """
         dd2 AS (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM a2),
         s2 AS (SELECT cell, pos, sum(val) AS s, count(*) AS cnt FROM dd2 GROUP BY cell, pos),
         u2 AS (SELECT cell, list(round(s / cnt, 6) ORDER BY pos) AS cv FROM s2 GROUP BY cell),
         c2 AS (SELECT c1.c_id, coalesce(u2.cv, c1.cv) AS cv
             FROM c1 LEFT JOIN u2 ON u2.cell = c1.c_id),
         k2 AS (SELECT c_id, cv,
             sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y)) AS cn FROM c2),
         rk AS (SELECT t.vec_id, t.v, t.nrm, k.c_id,""" + ivfRkArgmax + """
         asg AS (SELECT vec_id, v, nrm, c_id AS cell FROM rk WHERE ar = 1),
         pr0 AS (SELECT b.vec_id,
             round(list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]),
               (x,y) -> x+y) / (a.nrm * b.nrm), 6) AS cos
           FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         sem AS (SELECT DISTINCT vec_id FROM pr0 WHERE cos >= 0.38),
         d1s AS (SELECT * FROM d1 WHERE doc_id NOT IN (SELECT vec_id FROM sem)),""" + curateQ + """
           FROM d1s),
         r AS (SELECT d.doc_id,
             round(percent_rank() OVER (PARTITION BY d.lang
               ORDER BY q.quality, d.doc_id), 6) AS pr
           FROM d1s d JOIN q ON d.doc_id = q.doc_id),
         d2 AS (SELECT d1s.* FROM d1s JOIN r ON d1s.doc_id = r.doc_id
           WHERE r.pr >= 0.5 AND d1s.doc_id >= 50),""" + curateTkToPacked),
    "x7_curate_budget" ->
      (curateKeep1ToD3 + """
         bq AS (SELECT d3.doc_id, q.quality,
             CAST(len(string_split(d3.text,' ')) AS BIGINT) AS n_tokens
           FROM d3 JOIN q ON d3.doc_id = q.doc_id),
         c AS (SELECT doc_id, quality, n_tokens,
             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM bq)
         SELECT doc_id, quality, n_tokens, CAST(cum AS BIGINT) AS cum
         FROM c WHERE cum - n_tokens < 5000"""),
    "x7_report" ->
      (curateKeep1ToR + """
         d2q AS (SELECT d1.* FROM d1 JOIN r ON d1.doc_id = r.doc_id
           WHERE r.pr >= 0.5),
         d2 AS (SELECT * FROM d2q WHERE doc_id >= 50),""" + curateTkToOv + """
         d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM ov))
         SELECT (SELECT count(*) FROM documents) AS n_input,
           (SELECT count(*) FROM d1) AS n_after_exact,
           (SELECT count(*) FROM d2q) AS n_after_quality,
           (SELECT count(*) FROM d2) AS n_candidates,
           (SELECT count(*) FROM d3) AS n_kept"""),
    "x7_curate_neardup" ->
      ("""WITH """ + exactDedupKeep1 + """,
         d1 AS (SELECT d.* FROM documents d JOIN keep1 k ON d.doc_id = k.doc_id),
         tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM d1),
         tt AS (SELECT doc_id, list_transform(""" + minhashSig + """
           FROM tt),""" + minhashRepToE + """
         l0 AS (SELECT doc_id, doc_id AS cluster FROM d1),""" + clusterL1ToL3 + """
           ON m.doc_id = l.doc_id),
         dn AS (SELECT d1.* FROM d1 JOIN l3 ON d1.doc_id = l3.doc_id
           WHERE l3.cluster = l3.doc_id),""" + curateQ + """
           FROM dn),
         r AS (SELECT d.doc_id,
             round(percent_rank() OVER (PARTITION BY d.lang
               ORDER BY q.quality, d.doc_id), 6) AS pr
           FROM dn d JOIN q ON d.doc_id = q.doc_id),
         d2 AS (SELECT dn.* FROM dn JOIN r ON dn.doc_id = r.doc_id
           WHERE r.pr >= 0.5 AND dn.doc_id >= 50),
         tk2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
           FROM tk2 WHERE len(t) >= 3),""" + curateInvToPacked),
  )

  private val base: Map[String, String] = core ++ x1 ++ x2 ++ x3 ++ x4 ++ x5 ++ x6 ++ x7

  /** The serve-path queries score against a MATERIALIZED model built
    * from the same corpus in the same statement, so each must produce
    * EXACTLY its self-contained form's result — the oracle is shared
    * by reference, not copied: the strongest possible statement that
    * serve ≡ train-and-serve, enforced by the oracle hash compare. */
  private val serve: Map[String, String] = Map(
    "x2_ann_ivf_serve" -> base("x2_ann_ivf"),
    "x2_ann_ivfpq_serve" -> base("x2_ann_ivfpq"),
    "x2_ann_ivfpq_res_serve" -> base("x2_ann_ivfpq_res"),
    "x2_ann_lsh_serve" -> base("x2_ann_lsh"),
    "x2_ann_filtered_serve" -> base("x2_ann_filtered"),
    "x2_range_lsh_serve" -> base("x2_range_lsh"),
    "x2_ann_pq_serve" -> base("x2_ann_pq"),
    "x3_bigram_score_serve" -> base("x3_bigram_logprob"),
    "x3_unigram_score_serve" -> base("x3_unigram_logprob"),
    "x2_mips_lsh_serve" -> base("x2_mips_lsh"),
    "x3_bm25_rebuild" -> base("x3_bm25_index"),
    "x3_bm25_serve" -> base("x3_bm25_search"),
    "x3_phrase_serve" -> base("x3_phrase_search"),
    "x4_bloom_merge" -> base("x4_bloom_bits"),
    "x6_cms_merge" -> base("x6_cms_sketch"),
    "x2_ann_sq_serve" -> base("x2_ann_sq"),
    "x2_hybrid_rrf_serve" -> base("x2_hybrid_rrf"),
    "x2_ann_binary_serve" -> base("x2_ann_binary"),
    "x2_ann_ivfsq_serve" -> base("x2_ann_ivfsq"),
    "x2_ann_ivfsq_res_serve" -> base("x2_ann_ivfsq_res"),
    "x5_mm_search_sq_serve" -> base("x5_mm_search_sq"),
    "x5_mm_search_binary_serve" -> base("x5_mm_search_binary"),
    "x6_hist_merge" -> base("x6_hist_sketch"),
    "x6_hist_log_merge" -> base("x6_hist_log_sketch"),
    "x6_hist_serve" -> base("x6_hist_quantiles"),
    "x6_hist_log_serve" -> base("x6_hist_log_quantiles"),
    "x5_mm_search_lsh_serve" -> base("x5_mm_search_lsh"),
    "x5_mm_search_filtered_serve" -> base("x5_mm_search_filtered"),
    "x5_mm_search_pq_serve" -> base("x5_mm_search_pq"),
    "x5_mm_search_ivfpq_serve" -> base("x5_mm_search_ivfpq"),
    "x5_mm_search_ivfpq_res_serve" -> base("x5_mm_search_ivfpq_res"),
    "x5_mm_search_ivfsq_serve" -> base("x5_mm_search_ivfsq"),
    "x5_mm_search_ivfsq_res_serve" -> base("x5_mm_search_ivfsq_res"),
    "x6_ab_serve" -> base("x6_ab_test"),
    "x6_anomaly_serve" -> base("x6_anomaly"),
    "x6_seasonal_serve" -> base("x6_seasonal_anomaly"),
    "x6_also_viewed_serve" -> base("x6_also_viewed"),
    "x6_also_viewed_session_serve" -> base("x6_also_viewed_session"),
    "x6_covisit_merge" -> base("x6_covisit"),
    "x6_covisit_session_merge" -> base("x6_covisit_session"),
  )

  val sql: Map[String, String] = base ++ serve
}
