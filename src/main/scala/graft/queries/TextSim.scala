package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.graph.PageRank
import graft.multimodal.Multimodal
import graft.sim.{Similarity, Spectral}
import graft.plans.ArrayOps
import graft.text.{Calibrate, Classify, CorpusStats, Eval, NearDup, NgramLm, Retrieval, Sketch, Terms, TextOps}

/** Training-data-pipeline surface (builder brief): text analysis, document
  * dedup (exact / MinHash+LSH / SimHash / blocked Jaccard), embedding
  * similarity search, multimodal plumbing. Hash family is md5-over-strings
  * everywhere so every operator has a bit-identical DuckDB oracle.
  */
object TextSim extends QueryPack {

  // DuckDB fragments shared by several oracles.
  private val DUCK_TOKENS = "list_filter(str_split(text, ' '), x -> x <> '')"

  /** TextOps.qualityScore as a DuckDB expression over a `text` column —
    * one generator for the q34 oracle and the q61 pipeline's quality gate
    * so the two cannot drift. Per-row double arithmetic: bit-identical
    * across engines (PLANS.md numerics doctrine), so gating on it is safe. */
  private val qualitySql: String = {
    val nTok = s"len($DUCK_TOKENS)::DOUBLE"
    val stop = "len(list_filter(list_filter(str_split(lower(text), ' '), x -> x <> '')," +
      " t -> list_contains(['the','a','of','and','is'], t)))::DOUBLE"
    s"""least($nTok / 100.0, 1.0) * 0.4 +
          (1.0 - least(((length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g')))::DOUBLE
                        / greatest(length(text)::DOUBLE, 1.0)) * 10.0, 1.0)) * 0.3 +
          least(($stop / greatest($nTok, 1.0)) * 5.0, 1.0) * 0.3"""
  }

  /** 16-bit simhash oracle, generated to mirror NearDup.simhash exactly. */
  private def simhashSql(bits: Int): String = {
    val sums = (0 until bits)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n               ")
    val fp = (0 until bits)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""
      WITH toks AS (
        SELECT doc_id, unnest($DUCK_TOKENS) AS tok FROM documents),
      hashed AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
      sums AS (
        SELECT doc_id,
               $sums
        FROM hashed GROUP BY doc_id)
      SELECT doc_id, $fp AS simhash FROM sums"""
  }

  /** MinHash+LSH oracle mirroring NearDup.minhashLshPairs: double-hashing
    * family h_i = (h1 + i·h2) mod P from two md5 halves, k mins, banded. */
  private def minhashSql(k: Int, bands: Int): String =
    s"WITH ${minhashCtes(k, bands)}" + """
      SELECT c.id_a, c.id_b,
             round(len(list_intersect(da.sh, db.sh))::DOUBLE /
                   (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))::DOUBLE),
                   4) AS jaccard
      FROM cand c
      JOIN sets da ON da.doc_id = c.id_a
      JOIN sets db ON db.doc_id = c.id_b"""

  /** Transitive-closure CTE chain over a pair CTE (id_a, id_b), ending in
    * `reach (node, root)` — the recursive core shared by [[closureTail]]
    * and the q61 pipeline oracle (which needs the closure as a CTE, not a
    * final SELECT). */
  private def closureCtes(pairCte: String): String = s"""
      nodes AS (SELECT DISTINCT id FROM
                  (SELECT id_a AS id FROM $pairCte UNION SELECT id_b FROM $pairCte)),
      edges AS (SELECT id_a AS src, id_b AS dst FROM $pairCte
                UNION SELECT id_b, id_a FROM $pairCte),
      reach AS (
        SELECT id AS node, id AS root FROM nodes
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)"""

  /** Transitive-closure tail over a pair CTE (id_a, id_b): component
    * keeper = min reachable id. ONE generator for both clustering oracles
    * (q42 over MinHash cand pairs, q54 over embedding LSH pairs) so the
    * closure semantics cannot drift between them. */
  private def closureTail(pairCte: String, idOut: String): String =
    closureCtes(pairCte) + s"""
      SELECT node AS $idOut, min(root) AS keeper_id FROM reach GROUP BY node"""

  /** Transitive closure of the candidate-pair graph: component keeper =
    * min reachable doc_id (oracle for NearDup.dedupClusters). */
  private def clusterSql(k: Int, bands: Int): String =
    s"WITH RECURSIVE ${minhashCtes(k, bands)}, ${closureTail("cand", "doc_id")}"

  /** Shared CTE chain ending in `cand` (candidate pairs) and `sets`.
    * `src` is the relation the shingles are read from — `documents` for
    * the standalone oracles, a filtered CTE for the q61 pipeline. */
  private def minhashCtes(k: Int, bands: Int, src: String = "documents"): String = {
    val r = k / bands
    val P = graft.text.NearDup.P
    val mins = (0 until k)
      .map(i => s"min((h1 + $i * h2) % $P) AS m$i").mkString(",\n               ")
    // band_idx is FOLDED into the hash (mirrors NearDup.bandRows): band
    // equality is one uniform join key, which is what lets a persisted
    // band index bucketBy(band_hash) co-partition the candidate join
    val bandList = (0 until bands)
      .map(b => "md5(" + (s"$b" +: (b * r until (b + 1) * r).map(i => s"m$i"))
        .mkString(" || '#' || ") + ")")
      .mkString("[", ", ", "]")
    s"""
      docs AS (
        SELECT doc_id,
               list_distinct([array_to_string(toks[i:i+2], ' ')
                              for i in range(1, len(toks) - 1)]) AS sh
        FROM (SELECT doc_id, $DUCK_TOKENS AS toks FROM $src)
        WHERE len(toks) >= 3),
      hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5(g), 1, 15))::BIGINT       AS hraw,
               ('0x' || substr(md5(g), 1, 15))::BIGINT  % $P AS h1,
               ('0x' || substr(md5(g), 17, 15))::BIGINT % $P AS h2
        FROM (SELECT doc_id, unnest(sh) AS g FROM docs)),
      sigs AS (
        SELECT doc_id,
               $mins
        FROM hashed GROUP BY doc_id),
      sets AS (SELECT doc_id, list(DISTINCT hraw) AS sh FROM hashed GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b AS band_idx, ($bandList)[b + 1] AS band_hash
        FROM sigs, (SELECT unnest(range(0, $bands)) AS b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id)"""
  }

  /** IVF seeded-quantizer CTE chain ending in `assigned (vec_id, v, vn,
    * cell)` plus the intermediate `scored_cells` — ONE generator for the
    * q43 probe oracle and the q73 Lloyd-refinement oracle, so the
    * centroid formula and the argmax tie-break (ccos DESC, c ASC —
    * mirroring Spark's first-occurrence array_position) cannot drift. */
  private def ivfAssignCtes(centroids: Int, dims: Int): String = s"""
        e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                   FROM embeddings),
        en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn FROM e),
        cc AS (SELECT c,
                      [((('0x' || substr(md5('c' || c || '_' || i), 1, 8))::BIGINT
                         / 2147483648.0) - 1.0) for i in range(0, $dims)] AS cv
               FROM (SELECT unnest(range(0, $centroids)) AS c)),
        ccn AS (SELECT c, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cc),
        scored_cells AS (
          SELECT en.vec_id, en.v, en.vn, ccn.c,
                 round(list_dot_product(en.v, ccn.cv) / (ccn.cn * en.vn), 6) AS ccos
          FROM en CROSS JOIN ccn),
        assigned AS (
          SELECT vec_id, v, vn, c AS cell FROM scored_cells
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, c) = 1)"""

  /** Unrolled snapped-Lloyd training CTEs (q211): `iters` rounds, each =
    * cosine-argmax assignment against the previous round's centroid
    * matrix (seeded md5 directions at round 0 — the q43/q73 formula) →
    * per-(cell, dim) micro-snapped means → per-round `coalesce` carry
    * for emptied cells. Ends in `cr{iters} (c, i, x, n_members)` — the
    * trained matrix in row form. Every arithmetic step is the exact
    * cross-engine form (integer sums + one IEEE division per component;
    * 6-dp-rounded cosines with the `ORDER BY ccos DESC, c` argmax
    * tie-break the engine kernel implements), which is what makes an
    * ITERATIVE trainer oracle-checkable at all — raw fp means would
    * diverge in the last ulps by round 2.
    */
  private def kmeansTrainCtes(centroids: Int, dims: Int, iters: Int): String = {
    val base = s"""
        e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                   FROM embeddings),
        en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn FROM e),
        cr0 AS (SELECT c, i,
                       ((('0x' || substr(md5('c' || c || '_' || i), 1, 8))::BIGINT
                         / 2147483648.0) - 1.0) AS x
                FROM (SELECT unnest(range(0, $centroids)) AS c),
                     (SELECT unnest(range(0, $dims)) AS i))"""
    val steps = (1 to iters).map { t =>
      s"""
        cm${t - 1} AS (SELECT c, list(x ORDER BY i) AS cv
                       FROM cr${t - 1} GROUP BY c),
        sc$t AS (SELECT en.vec_id, en.v, q.c,
                        round(list_dot_product(en.v, q.cv)
                              / (sqrt(list_dot_product(q.cv, q.cv)) * en.vn),
                              6) AS ccos
                 FROM en CROSS JOIN cm${t - 1} q),
        asg$t AS (SELECT vec_id, v, c AS cell FROM sc$t
                  QUALIFY row_number() OVER (PARTITION BY vec_id
                                             ORDER BY ccos DESC, c) = 1),
        mn$t AS (SELECT cell, i, count(*)::BIGINT AS n_members,
                        sum(floor(x * 1e6 + 0.5))::BIGINT AS m_micro
                 FROM (SELECT cell, unnest(range(0, $dims)) AS i,
                              unnest(v) AS x
                       FROM asg$t)
                 GROUP BY 1, 2),
        cr$t AS (SELECT p.c, p.i,
                        coalesce(m.m_micro::DOUBLE
                                   / (m.n_members::DOUBLE * 1e6),
                                 p.x) AS x,
                        coalesce(m.n_members, 0)::BIGINT AS n_members
                 FROM cr${t - 1} p
                 LEFT JOIN mn$t m ON m.cell = p.c AND m.i = p.i)"""
    }.mkString(",")
    base + "," + steps
  }

  /** TRAINED-quantizer assignment chain (q215/q216): 2 snapped Lloyd
    * training rounds via [[kmeansTrainCtes]], then the q43 assignment
    * discipline against the TRAINED centroid arrays — ends in
    * `sc (vec_id, v, vn, c, ccos)` and `asg (vec_id, v, vn, cell)`.
    * ONE generator so the trained search (q215) and the trained
    * SemDeDup (q216) replay identical training + assignment and
    * cannot drift.
    */
  private def trainedAssignCtes(centroids: Int, dims: Int, iters: Int): String =
    s"""${kmeansTrainCtes(centroids, dims, iters)},
        cmF AS (SELECT c, list(x ORDER BY i) AS cv FROM cr$iters GROUP BY c),
        ccnF AS (SELECT c, cv, sqrt(list_dot_product(cv, cv)) AS cn
                 FROM cmF),
        sc AS (SELECT en.vec_id, en.v, en.vn, q.c,
                      round(list_dot_product(en.v, q.cv) / (q.cn * en.vn),
                            6) AS ccos
               FROM en CROSS JOIN ccnF q),
        asg AS (SELECT vec_id, v, vn, c AS cell FROM sc
                QUALIFY row_number() OVER (PARTITION BY vec_id
                                           ORDER BY ccos DESC, c) = 1)"""

  /** Micro-snapped SSE rendering shared by every residual-PQ CTE —
    * the exact ((r·r − 2·r·cv) + cv·cv) composition the engine kernel
    * folds (pqAudit's association, residual operand). */
  private def rsseSql(rcol: String, cvcol: String): String =
    s"""floor(((list_dot_product($rcol, $rcol)
                - 2 * list_dot_product($rcol, $cvcol))
               + list_dot_product($cvcol, $cvcol)) * 1e6 + 0.5)::BIGINT"""

  /** RESIDUAL-PQ training + encode CTE chain (q218/q219 — VERDICT r14
    * #1, the published IVFADC's trained-residual codebooks): expects
    * [[trainedAssignCtes]]'s `en`/`cmF`/`sc`/`asg` in scope. Mirrors
    * `Similarity.trainPqResidualMatrix`: residual subvectors
    * (v − trained-coarse-centroid, sliced per subspace), `iters`
    * unrolled snapped Lloyd rounds from the md5 formula codebook
    * (argmin of micro-snapped SSE with ties to the lowest code;
    * per-(subspace, code, dim) snapped means; coalesce carry for
    * emptied codes), ending in the final codebook `pcmF (s, c, cv)`
    * and the residual code assignment `rcodes (vec_id, cell,
    * subspace, code)`. CTE names are pq/r-prefixed (the
    * generator-composition rule — this chain layers ON TOP of the
    * coarse-training chain, which owns the cr/cm names). */
  private def pqResidualTrainCtes(m: Int, ksub: Int, dsub: Int,
                                  iters: Int): String = {
    val base = s"""
        rsubs AS (
          SELECT vec_id, cell, s,
                 [sub[i] - csub[i] for i in range(1, ${dsub + 1})] AS rsub
          FROM (SELECT a.vec_id, a.cell, u.s,
                       a.v[u.s*$dsub+1 : u.s*$dsub+$dsub] AS sub,
                       f.cv[u.s*$dsub+1 : u.s*$dsub+$dsub] AS csub
                FROM asg a JOIN cmF f ON f.c = a.cell,
                     unnest(range(0, $m)) u(s))),
        pcr0 AS (SELECT s, c, i,
                        ((('0x' || substr(md5('pq' || s || '_' || c || '_' || i), 1, 8))::BIGINT
                          / 2147483648.0) - 1.0) AS x
                 FROM (SELECT unnest(range(0, $m)) AS s),
                      (SELECT unnest(range(0, $ksub)) AS c),
                      (SELECT unnest(range(0, $dsub)) AS i))"""
    val steps = (1 to iters).map { t =>
      s"""
        pcm${t - 1} AS (SELECT s, c, list(x ORDER BY i) AS cv
                        FROM pcr${t - 1} GROUP BY s, c),
        rasg$t AS (SELECT vec_id, s, rsub, c AS code
                   FROM (SELECT r.vec_id, r.s, r.rsub, q.c,
                                ${rsseSql("r.rsub", "q.cv")} AS sse_micro
                         FROM rsubs r JOIN pcm${t - 1} q ON q.s = r.s)
                   QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                              ORDER BY sse_micro, c) = 1),
        pmn$t AS (SELECT s, code, i, count(*)::BIGINT AS n_members,
                         sum(floor(x * 1e6 + 0.5))::BIGINT AS m_micro
                  FROM (SELECT s, code, unnest(range(0, $dsub)) AS i,
                               unnest(rsub) AS x
                        FROM rasg$t)
                  GROUP BY 1, 2, 3),
        pcr$t AS (SELECT p.s, p.c, p.i,
                         coalesce(m.m_micro::DOUBLE
                                    / (m.n_members::DOUBLE * 1e6),
                                  p.x) AS x
                  FROM pcr${t - 1} p
                  LEFT JOIN pmn$t m ON m.s = p.s AND m.code = p.c
                                   AND m.i = p.i)"""
    }.mkString(",")
    base + "," + steps + s""",
        pcmF AS (SELECT s, c, list(x ORDER BY i) AS cv
                 FROM pcr$iters GROUP BY s, c),
        rcodes AS (SELECT vec_id, cell, s AS subspace, c AS code
                   FROM (SELECT r.vec_id, r.cell, r.s, q.c,
                                ${rsseSql("r.rsub", "q.cv")} AS sse_micro
                         FROM rsubs r JOIN pcmF q ON q.s = r.s)
                   QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                              ORDER BY sse_micro, c) = 1)"""
  }

  /** Residual per-(query, probed cell) ADC distance tables (q218/q219):
    * expects `en`/`cmF`/`pcmF` plus a caller-supplied probe CTE named
    * `pcells (query_id, cell)` in scope; ends in `rtbl (query_id, cell,
    * subspace, code, t_micro)` — the structural difference from the
    * raw-PQ `tbl`: the query residual differs PER PROBED CELL. */
  private def residualTableCtes(m: Int, dsub: Int): String = s"""
        qres AS (SELECT query_id, cell, s,
                        [sub[i] - csub[i] for i in range(1, ${dsub + 1})] AS rq
                 FROM (SELECT p.query_id, p.cell, u.s,
                              q.v[u.s*$dsub+1 : u.s*$dsub+$dsub] AS sub,
                              f.cv[u.s*$dsub+1 : u.s*$dsub+$dsub] AS csub
                       FROM pcells p
                       JOIN en q ON q.vec_id = p.query_id
                       JOIN cmF f ON f.c = p.cell,
                            unnest(range(0, $m)) u(s))),
        rtbl AS (SELECT r.query_id, r.cell, r.s AS subspace, q.c AS code,
                        ${rsseSql("r.rq", "q.cv")} AS t_micro
                 FROM qres r JOIN pcmF q ON q.s = r.s)"""

  /** The q135 hybrid-retrieval ranker CTEs, ending in `dense` and
    * `sparse` (query_id, doc_id, rank ≤ 20) — ONE generator for the RRF
    * fusion oracle (q135) and the RBO agreement oracle (q146) so the two
    * rankers cannot drift between the queries that share them. */
  /** PQ quantizer CTE chain (subspaces, md5 codebooks, per-(vector,
    * subspace, code) SSE) shared by the q134 audit and the q158 ADC
    * search so the quantizer formula cannot drift between them.
    * Ends in `sse (vec_id, subspace, code, sse_micro)` with `e` and
    * `cc` also available. Parameters mirror pqAudit(dims=64, m=4,
    * ksub=8) — dsub = 16. */
  /** The q207 IVFADC code/table chain (dims=64, m=4, ksub=8, dsub=16,
    * query set vec_id%25=0), factored so the serving query (q207) and
    * the recall-curve sweep (q213) replay ONE codebook + code-assignment
    * formula and cannot drift. Expects `e`/`assigned`/`scored_cells`
    * (ivfAssignCtes) in scope; ends with `cwc (vec_id, subspace, code,
    * cell)` and `tbl (query_id, subspace, code, t_micro)`. */
  private val ivfPqAdcCtes: String = """
        asubs AS (SELECT vec_id, s, v[s*16+1 : s*16+16] AS sub
                  FROM e, unnest(range(0, 4)) AS u(s)),
        pcc AS (SELECT s, c,
                       [((('0x' || substr(md5('pq' || s || '_' || c || '_' || i), 1, 8))::BIGINT
                          / 2147483648.0) - 1.0) for i in range(0, 16)] AS cv
                FROM (SELECT unnest(range(0, 4)) AS s),
                     (SELECT unnest(range(0, 8)) AS c)),
        psse AS (
          SELECT vec_id, asubs.s AS subspace, pcc.c AS code,
                 floor(((list_dot_product(sub, sub) - 2 * list_dot_product(sub, pcc.cv))
                        + list_dot_product(pcc.cv, pcc.cv)) * 1e6 + 0.5)::BIGINT AS sse_micro
          FROM asubs JOIN pcc ON pcc.s = asubs.s),
        codes AS (SELECT vec_id, subspace, code FROM psse
                  QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
                                             ORDER BY sse_micro, code) = 1),
        cwc AS (SELECT codes.vec_id, codes.subspace, codes.code, a.cell
                FROM codes JOIN assigned a USING (vec_id)),
        qsubs AS (SELECT vec_id AS query_id, s, sub FROM asubs
                  WHERE vec_id % 25 = 0),
        tbl AS (SELECT query_id, qsubs.s AS subspace, pcc.c AS code,
                       floor(((list_dot_product(sub, sub)
                               - 2 * list_dot_product(sub, pcc.cv))
                              + list_dot_product(pcc.cv, pcc.cv))
                             * 1e6 + 0.5)::BIGINT AS t_micro
                FROM qsubs JOIN pcc ON pcc.s = qsubs.s)"""

  /** The q183 textured-fixture dHash FINGERPRINT chain, ending in
    * `hsimg (doc_id, dhash)` — the shared front half of the pair oracle
    * (q183/q205 via [[dhashPairCtes]]) and the corpus-flags oracle
    * (q214), so the hash formula is ONE generator everywhere. */
  private def dhashCtes: String = """
        img AS (SELECT doc_id, text, length(text)::BIGINT AS L
                     FROM documents),
        pix AS (SELECT doc_id, y, x,
                       ('0x' || substr(md5(substr(text,
                          (((144 * y + 4 * x) * 7) % L) + 1, 16)), 1, 2))::INT
                         AS g
                FROM img, unnest(range(0, 8)) uy(y),
                     unnest(range(0, 9)) ux(x)),
        bits AS (SELECT doc_id, y, x - 1 AS bx,
                        (g > lag(g) OVER (PARTITION BY doc_id, y
                                          ORDER BY x))::INT AS b
                 FROM pix QUALIFY x > 0),
        hsimg AS (SELECT doc_id,
                      -- two's-complement assembly: bit 63 contributes its
                      -- signed value directly, so the BIGINT sum IS the
                      -- engine's (possibly negative) Long — no HUGEINT
                      sum(CASE WHEN 8 * y + bx = 63
                               THEN b * (-9223372036854775807 - 1)
                               ELSE b * (1::BIGINT << (8 * y + bx))
                          END)::BIGINT AS dhash
               FROM bits GROUP BY doc_id)"""

  /** The q183 textured-fixture dHash closed form as a CTE chain ending
    * in `ipairs (id_a, id_b, hamming)` at ham ≤ 2 — one generator for
    * the image-pair oracle (q183) and the multimodal dedup closure
    * (q205) so the hash formula cannot drift between them. */
  private def dhashPairCtes: String = s"""$dhashCtes,
        ipairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 bit_count(xor(a.dhash, b.dhash))::BIGINT AS hamming
          FROM hsimg a JOIN hsimg b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.dhash, b.dhash)) <= 2)"""

  /** UNROLLED BPE TRAINING + SEGMENTATION oracle (q221 — VERDICT r15
    * #1): replays [[graft.text.Bpe.tokenizePack]] round for round in
    * DuckDB. Each word's symbol state is encoded as the string
    * "(s1)(s2)…(sk)" — under that encoding, applying merge (l, r) is
    * EXACTLY `replace(st, '(l)(r)', '(lr)')`, because SQL replace is
    * left-to-right non-overlapping — the greedy BPE application
    * BpeSpec pins on the engine kernel, including the l==r overlap
    * case ("(a)(a)(a)" → "(aa)(a)"). Symbol-boundary false matches are
    * impossible while the corpus alphabet contains no parens (the
    * synthetic corpus is lowercase+space; an oracle-encoding
    * assumption only — the ENGINE side works on symbol arrays and
    * never needs it). Round k: adjacent-pair counts over the current
    * states (the q91 statistic), argmax by (count desc, pair asc) —
    * the shared training order — then one replace. Training rounds are
    * unrolled textually, so the oracle runs EXACTLY `rounds` merges
    * (tokenizePack requires the engine trained the same number).
    * Multiply-referenced round CTEs are MATERIALIZED: DuckDB inlines
    * CTEs by default, and bpw/bpm each feed two consumers per round,
    * so the un-hinted plan tree doubles per round (2^rounds copies of
    * the corpus scan — measured minutes at 12 rounds vs 0.05 s hinted).
    */
  private def bpeTokenizePackCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""
        bpw0 AS MATERIALIZED (
          SELECT word, count(*)::BIGINT AS wc,
                 '(' || array_to_string(str_split(word, ''), ')(') || ')'
                   AS st
          FROM (SELECT unnest($DUCK_TOKENS) AS word FROM documents)
          GROUP BY 1)""")
    for (k <- 1 to rounds) sb.append(s""",
        bpp$k AS (
          SELECT cs[i] AS sym_l, cs[i + 1] AS sym_r, sum(wc)::BIGINT AS c
          FROM (SELECT wc,
                       str_split(substr(st, 2, length(st) - 2), ')(') AS cs
                FROM bpw${k - 1}),
               unnest(range(1, len(cs))) AS u(i)
          GROUP BY 1, 2),
        bpm$k AS MATERIALIZED (SELECT sym_l, sym_r FROM bpp$k
                  ORDER BY c DESC, sym_l, sym_r LIMIT 1),
        bpw$k AS MATERIALIZED (
          SELECT word, wc,
                 replace(st, '(' || m.sym_l || ')(' || m.sym_r || ')',
                         '(' || m.sym_l || m.sym_r || ')') AS st
          FROM bpw${k - 1}, bpm$k m)""")
    // document-side segmentation: the SAME merge list applied in rank
    // order to every word occurrence (word_pos from the q72 parallel
    // unnest), then subword positions, trained-vocab ids, q59 packing
    sb.append(s""",
        bpd0 AS MATERIALIZED (
          SELECT doc_id, word_pos,
                 '(' || array_to_string(str_split(word, ''), ')(') || ')'
                   AS st
          FROM (SELECT doc_id, unnest(range(0, len(t))) AS word_pos,
                       unnest(t) AS word
                FROM (SELECT doc_id, $DUCK_TOKENS AS t FROM documents)))""")
    for (k <- 1 to rounds) sb.append(s""",
        bpd$k AS MATERIALIZED (
          SELECT doc_id, word_pos,
                 replace(st, '(' || m.sym_l || ')(' || m.sym_r || ')',
                         '(' || m.sym_l || m.sym_r || ')') AS st
          FROM bpd${k - 1}, bpm$k m)""")
    sb.append(s""",
        bpsub AS MATERIALIZED (
          SELECT doc_id, word_pos,
                 unnest(range(0, len(cs))) AS sym_pos, unnest(cs) AS subword
          FROM (SELECT doc_id, word_pos,
                       str_split(substr(st, 2, length(st) - 2), ')(') AS cs
                FROM bpd$rounds)),
        bpvocab AS (
          SELECT subword,
                 (row_number() OVER (ORDER BY count(*) DESC, subword) - 1)
                   ::BIGINT AS token_id
          FROM bpsub GROUP BY subword),
        bptok AS (
          SELECT doc_id,
                 (row_number() OVER (PARTITION BY doc_id
                                     ORDER BY word_pos, sym_pos) - 1)
                   ::BIGINT AS pos,
                 subword
          FROM bpsub),
        bpcnt AS (SELECT doc_id, count(*)::BIGINT AS n FROM bptok GROUP BY 1),
        bpoff AS (
          SELECT c.doc_id, d.lang AS shard,
                 (sum(c.n) OVER (PARTITION BY d.lang ORDER BY c.doc_id
                                 ROWS UNBOUNDED PRECEDING) - c.n)::BIGINT
                   AS start_tok
          FROM bpcnt c JOIN documents d USING (doc_id))""")
    sb.toString
  }

  /** The q222 fixture-wrap + extraction pipeline as a CTE chain ending
    * in `hb (doc_id, bi, t, n, lc, is_content)` — ONE generator for the
    * extraction rollup (q222) and the cross-document line-frequency
    * stage it feeds (q224), so the fixture and the block classifier
    * cannot drift between them. */
  /** URL-canonicalization CTE chain (u → k) over a doc-source CTE —
    * ONE generator for the q229 oracle and q230's frontier stage 0, so
    * the two cannot drift. Ends in `k (doc_id, canon_url, canon_key)`. */
  private def urlCanonCtes(src: String): String = {
    val fix = graft.text.TextOps.urlFixtureSql
    s"""u AS (
          SELECT doc_id, $fix AS url
          FROM $src),
        p AS (
          SELECT doc_id,
                 lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
                 split_part(split_part(url, '#', 1), '://', 2) AS rest
          FROM u),
        a AS (
          SELECT doc_id, scheme,
                 lower(regexp_extract(rest, '^[^/?]*', 0)) AS auth,
                 substr(rest, length(regexp_extract(rest, '^[^/?]*', 0)) + 1) AS pq
          FROM p),
        c AS (
          SELECT doc_id, scheme,
                 CASE WHEN scheme = 'http'  AND auth LIKE '%:80'
                      THEN substr(auth, 1, length(auth) - 3)
                      WHEN scheme = 'https' AND auth LIKE '%:443'
                      THEN substr(auth, 1, length(auth) - 4)
                      ELSE auth END AS host,
                 CASE WHEN regexp_replace(split_part(pq, '?', 1), '/+$$', '') = ''
                      THEN '/'
                      ELSE regexp_replace(split_part(pq, '?', 1), '/+$$', '') END AS path,
                 array_to_string(list_sort(list_filter(
                   string_split(split_part(pq, '?', 2), '&'),
                   q -> q <> '' AND NOT regexp_matches(q, '^(utm_[^=]*|gclid|fbclid|ref)='))),
                   '&') AS params
          FROM a),
        k AS (
          SELECT doc_id,
                 scheme || '://' || host || path ||
                   (CASE WHEN params = '' THEN '' ELSE '?' || params END) AS canon_url,
                 'https://' || regexp_replace(host, '^www\\.', '') || path ||
                   (CASE WHEN params = '' THEN '' ELSE '?' || params END) AS canon_key
          FROM c)"""
  }

  /** The q226 capstone oracle — extraction → line-df → langid/quality →
    * exact + LSH dedup closure → pack — over an arbitrary doc-source
    * CTE, with optional PREFIX CTEs (q230 prepends the URL-frontier
    * chain and runs the same pipeline over the keepers). ONE generator
    * for both faces. */
  private def crawlPipelineOracle(prefixCtes: String, src: String): String = s"""
        WITH RECURSIVE
        $prefixCtes${htmlExtractCtesFrom(src)},
        lfd AS (SELECT t, count(DISTINCT doc_id)::BIGINT AS line_df
                FROM hb WHERE is_content GROUP BY t),
        cw AS (SELECT h.doc_id,
                      string_agg(h.t, ' ' ORDER BY h.bi)
                        FILTER (d.line_df <= 9) AS text
               FROM hb h JOIN lfd d USING (t)
               WHERE h.is_content
               GROUP BY h.doc_id),
        c1 AS (SELECT doc_id, text, $langIdCaseSql AS pred_lang
               FROM cw WHERE text IS NOT NULL AND length(text) > 0),
        c2 AS (SELECT * FROM c1 WHERE $qualitySql >= 0.55),
        c3 AS (SELECT * FROM c2
               QUALIFY row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) = 1),
        ${minhashCtes(16, 8, src = "c3")},
        pairs AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sets sa ON sa.doc_id = c.id_a
          JOIN sets sb ON sb.doc_id = c.id_b
          WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                      (len(sa.sh) + len(sb.sh)
                       - len(list_intersect(sa.sh, sb.sh))::DOUBLE),
                      4) >= 0.5),
        ${closureCtes("pairs")},
        dropn AS (SELECT node AS doc_id FROM reach GROUP BY node
                  HAVING min(root) <> node),
        c4 AS (SELECT doc_id, pred_lang AS shard,
                      len($DUCK_TOKENS)::BIGINT AS n_tokens
               FROM c3
               WHERE doc_id NOT IN (SELECT doc_id FROM dropn))
        SELECT doc_id, shard, n_tokens,
               (sum(n_tokens) OVER w - n_tokens)::BIGINT AS start_tok,
               (sum(n_tokens) OVER w - n_tokens)::BIGINT // 256 AS chunk
        FROM c4
        WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING)"""

  private def htmlExtractCtes: String = htmlExtractCtesFrom("documents")

  /** [[htmlExtractCtes]] over an arbitrary doc-source CTE — q230 runs
    * the same extraction chain over the URL-frontier keepers. */
  private def htmlExtractCtesFrom(src: String): String = s"""
        hfix AS (
          SELECT doc_id, ${graft.text.Html.fixtureSql} AS html
          FROM $src),
        hnos AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(html,
                   '<script[^>]*>.*?</script>', '', 'g'),
                   '<style[^>]*>.*?</style>', '', 'g') AS h
          FROM hfix),
        hblk AS (
          SELECT doc_id, unnest(range(1, len(bs) + 1)) AS bi, unnest(bs) AS b
          FROM (SELECT doc_id,
                       regexp_split_to_array(h,
                         '</?(?:p|div|h1|head|title|body|html)[^>]*>') AS bs
                FROM hnos)),
        hb AS (
          SELECT doc_id, bi, t, length(t)::BIGINT AS n, lc,
                 (length(t) >= 20 AND lc * 3 <= length(t)) AS is_content
          FROM (SELECT doc_id, bi,
                       trim(regexp_replace(regexp_replace(b, '<[^>]*>', '', 'g'),
                            ' +', ' ', 'g')) AS t,
                       coalesce(list_sum(list_transform(
                         regexp_extract_all(b, '<a[^>]*>(.*?)</a>', 1),
                         x -> length(x))), 0)::BIGINT AS lc
                FROM hblk)
          WHERE length(t) > 0)"""

  /** The q184 textured-fixture audio-fingerprint closed form as a CTE
    * chain ending in `apairs (id_a, id_b, hamming)` at ham ≤ 2 — one
    * generator for the audio-pair oracle (q184) and the trimodal dedup
    * closure (q208) so the fingerprint formula cannot drift between
    * them. CTE names are audio-prefixed (abits/hsaud) because q208
    * composes this chain WITH dhashPairCtes (whose chain owns `bits`)
    * — the ivfAssignCtes/pqCtes collision lesson. */
  private def audioPairCtes: String = """
        aud AS (SELECT doc_id, text, length(text)::BIGINT AS L
                     FROM documents),
        amp AS (SELECT doc_id, f,
                       abs(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)
                         AS absa
                FROM (SELECT doc_id, f,
                             ('0x' || substr(md5(substr(text,
                                ((f * 11) % L) + 1, 16)), 1, 4))::INT AS u
                      FROM aud, unnest(range(0, 65)) uf(f))),
        abits AS (SELECT doc_id, f - 1 AS bx,
                        (absa > lag(absa) OVER (PARTITION BY doc_id
                                                ORDER BY f))::INT AS b
                 FROM amp QUALIFY f > 0),
        hsaud AS (SELECT doc_id,
                      sum(CASE WHEN bx = 63
                               THEN b * (-9223372036854775807 - 1)
                               ELSE b * (1::BIGINT << bx) END)::BIGINT
                        AS ahash
               FROM abits GROUP BY doc_id),
        apairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
          FROM hsaud a JOIN hsaud b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.ahash, b.ahash)) <= 2)"""

  /** The q33 language-ID heuristic as one SQL CASE over `text` — ONE
    * generator for the per-doc prediction (q33) and the confusion
    * matrix (q194) so the heuristic cannot drift between them. */
  private def langIdCaseSql: String = {
    def score(ms: Seq[String]) =
      s"len(list_filter(list_filter(str_split(lower(text), ' '), x -> x <> ''), " +
        s"t -> list_contains(${ms.map(m => s"'$m'").mkString("[", ",", "]")}, t)))"
    val (en, de, es, fr) = (score(TextOps.EN_MARKERS), score(TextOps.DE_MARKERS),
      score(TextOps.ES_MARKERS), score(TextOps.FR_MARKERS))
    s"""CASE WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
               WHEN $en >= $de AND $en >= $es AND $en >= $fr THEN 'en'
               WHEN $de >= $es AND $de >= $fr THEN 'de'
               WHEN $es >= $fr THEN 'es'
               ELSE 'fr' END"""
  }

  /** The multinomial-NB model CTE chain (q133's formula), ending in
    * `tot (doc_id, label_true, cand, total)` — one generator for the
    * argmax self-test (q133) and the margin-calibration table (q177) so
    * the model formula cannot drift between them. */
  private def nbCtes: String = s"""
        toks AS (SELECT doc_id, lang AS label_true,
                             unnest($DUCK_TOKENS) AS term
                      FROM documents),
        ctl AS (SELECT label_true AS label, term, count(*)::BIGINT AS c_tl
                FROM toks GROUP BY 1, 2),
        labels AS (SELECT lang AS label, count(*)::BIGINT AS n_docs,
                          sum(len($DUCK_TOKENS))::BIGINT AS t_l
                   FROM documents GROUP BY 1),
        nall AS (SELECT count(*)::BIGINT AS n_all FROM documents),
        vc AS (SELECT count(DISTINCT term)::BIGINT AS v FROM ctl),
        grid AS (
          SELECT t.term, l.label,
                 floor((ln(coalesce(c.c_tl, 0)::DOUBLE + 1.0)
                        - ln((l.t_l + vc.v)::DOUBLE)) * 1e6 + 0.5)::BIGINT AS s_micro
          FROM (SELECT DISTINCT term FROM ctl) t
          CROSS JOIN labels l
          LEFT JOIN ctl c ON c.term = t.term AND c.label = l.label
          CROSS JOIN vc),
        priors AS (
          SELECT label,
                 floor((ln(n_docs::DOUBLE) - ln(n_all::DOUBLE)) * 1e6 + 0.5)::BIGINT
                   AS prior_micro
          FROM labels CROSS JOIN nall),
        sc AS (
          SELECT tk.doc_id, tk.label_true, g.label,
                 sum(g.s_micro)::BIGINT AS ll_micro
          FROM toks tk JOIN grid g USING (term)
          GROUP BY 1, 2, 3),
        tot AS (
          SELECT sc.doc_id, sc.label_true, sc.label AS cand,
                 sc.ll_micro + p.prior_micro AS total
          FROM sc JOIN priors p USING (label))"""

  /** The q193 leave-one-source-out valuation chain, parameterized on
    * the EVAL-SLICE membership condition so the exact face (q193,
    * `doc_id % 5 = 0`) and the sampled face (q217, the q71 per-label
    * md5-rank subsample via `extraCtes`) render through ONE generator
    * — the LOO algebra cannot drift between them. `evalCond` must be a
    * row predicate over (doc_id); `extraCtes` (with trailing comma)
    * may define CTEs it references. */
  private def looValuationSql(extraCtes: String, evalCond: String): String = s"""
        WITH $nbCtes,
        $extraCtes
        xtoks AS (SELECT doc_id, lang AS label_true, source AS src,
                         unnest($DUCK_TOKENS) AS term
                  FROM documents),
        xctls AS (SELECT src, label_true AS label, term,
                         count(*)::BIGINT AS c
                  FROM xtoks GROUP BY 1, 2, 3),
        xsrcs AS (SELECT DISTINCT src FROM xctls),
        xctl AS (SELECT label, term, sum(c)::BIGINT AS c_all
                 FROM xctls GROUP BY 1, 2),
        xlab AS (SELECT lang AS label, count(*)::BIGINT AS n_docs,
                        sum(len($DUCK_TOKENS))::BIGINT AS t_l
                 FROM documents GROUP BY 1),
        xlabs AS (SELECT source AS src, lang AS label,
                         count(*)::BIGINT AS n_ls,
                         sum(len($DUCK_TOKENS))::BIGINT AS t_ls
                  FROM documents GROUP BY 1, 2),
        xnall AS (SELECT count(*)::BIGINT AS n_all FROM documents),
        xns AS (SELECT source AS src, count(*)::BIGINT AS n_s
                FROM documents GROUP BY 1),
        xtermtot AS (SELECT term, sum(c_all)::BIGINT AS ct
                     FROM xctl GROUP BY 1),
        xtermsrc AS (SELECT src, term, sum(c)::BIGINT AS cs
                     FROM xctls GROUP BY 1, 2),
        xv AS (SELECT count(*)::BIGINT AS v FROM xtermtot),
        xvs AS (SELECT src, count(*)::BIGINT AS excl
                FROM xtermsrc JOIN xtermtot USING (term)
                WHERE ct = cs GROUP BY 1),
        xgrid AS (
          SELECT s.src, t.term, l.label,
                 floor((ln((coalesce(c.c_all, 0) - coalesce(cs.c, 0))::DOUBLE
                           + 1.0)
                        - ln((l.t_l - coalesce(ls.t_ls, 0)
                              + xv.v - coalesce(xvs.excl, 0))::DOUBLE))
                       * 1e6 + 0.5)::BIGINT AS s_micro
          FROM (SELECT DISTINCT term FROM xctl) t
          CROSS JOIN xlab l CROSS JOIN xsrcs s
          LEFT JOIN xctl c ON c.term = t.term AND c.label = l.label
          LEFT JOIN xctls cs ON cs.src = s.src AND cs.label = l.label
                            AND cs.term = t.term
          LEFT JOIN xlabs ls ON ls.src = s.src AND ls.label = l.label
          CROSS JOIN xv LEFT JOIN xvs ON xvs.src = s.src
          JOIN xtermtot tt ON tt.term = t.term
          LEFT JOIN xtermsrc ts2 ON ts2.src = s.src AND ts2.term = t.term
          WHERE coalesce(ts2.cs, 0) < tt.ct
            AND l.n_docs - coalesce(ls.n_ls, 0) > 0),
        xpriors AS (
          SELECT s.src, l.label,
                 floor((ln((l.n_docs - coalesce(ls.n_ls, 0))::DOUBLE)
                        - ln((xnall.n_all - xns.n_s)::DOUBLE))
                       * 1e6 + 0.5)::BIGINT AS prior_micro
          FROM xlab l CROSS JOIN xsrcs s
          LEFT JOIN xlabs ls ON ls.src = s.src AND ls.label = l.label
          CROSS JOIN xnall JOIN xns ON xns.src = s.src
          WHERE l.n_docs - coalesce(ls.n_ls, 0) > 0),
        xetoks AS (SELECT doc_id, label_true, term FROM xtoks
                   WHERE $evalCond),
        xsc AS (SELECT g.src, e.doc_id, e.label_true, g.label,
                       sum(g.s_micro)::BIGINT AS ll
                FROM xetoks e JOIN xgrid g USING (term)
                GROUP BY 1, 2, 3, 4),
        xtot AS (SELECT xsc.src, xsc.doc_id, xsc.label_true, xsc.label,
                        xsc.ll + p.prior_micro AS total
                 FROM xsc JOIN xpriors p
                   ON p.src = xsc.src AND p.label = xsc.label),
        xloo AS (
          SELECT src, count(*)::BIGINT AS n_scored,
                 sum((cand = label_true)::INT)::BIGINT AS n_ok
          FROM (SELECT src, doc_id, label_true, label AS cand, total,
                       row_number() OVER (PARTITION BY src, doc_id
                                          ORDER BY total DESC, label DESC)
                         AS rn
                FROM xtot) WHERE rn = 1 GROUP BY 1),
        xfull AS (
          SELECT count(*)::BIGINT AS n_eval,
                 sum((cand = label_true)::INT)::BIGINT AS ok
          FROM (SELECT doc_id, label_true, cand, total,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY total DESC, cand DESC)
                         AS rn
                FROM tot)
          WHERE rn = 1 AND ($evalCond))
        SELECT src AS source, n_scored, n_eval,
               floor(ok::DOUBLE * 1e6 / n_eval::DOUBLE + 0.5)::BIGINT
                 AS acc_full_micro,
               floor(n_ok::DOUBLE * 1e6 / n_scored::DOUBLE + 0.5)::BIGINT
                 AS acc_loo_micro,
               floor(n_ok::DOUBLE * 1e6 / n_scored::DOUBLE + 0.5)::BIGINT
                 - floor(ok::DOUBLE * 1e6 / n_eval::DOUBLE + 0.5)::BIGINT
                 AS delta_micro
        FROM xloo CROSS JOIN xfull"""

  private def pqCtes: String = """
        e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                   FROM embeddings),
        subs AS (SELECT vec_id, s, v[s*16+1 : s*16+16] AS sub
                 FROM e, unnest(range(0, 4)) AS u(s)),
        cc AS (SELECT s, c,
                      [((('0x' || substr(md5('pq' || s || '_' || c || '_' || i), 1, 8))::BIGINT
                         / 2147483648.0) - 1.0) for i in range(0, 16)] AS cv
               FROM (SELECT unnest(range(0, 4)) AS s), (SELECT unnest(range(0, 8)) AS c)),
        sse AS (
          SELECT vec_id, subs.s AS subspace, cc.c AS code,
                 floor(((list_dot_product(sub, sub) - 2 * list_dot_product(sub, cc.cv))
                        + list_dot_product(cc.cv, cc.cv)) * 1e6 + 0.5)::BIGINT AS sse_micro
          FROM subs JOIN cc ON cc.s = subs.s)"""

  private def hybridRankerCtes: String = s"""
        e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                   FROM embeddings),
        nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM nrm
              WHERE vec_id % 25 = 0),
        dsc AS (SELECT query_id, nrm.vec_id,
                       round(list_dot_product(qv, v) / (qn * vn), 6) AS cosine
                FROM q, nrm WHERE nrm.vec_id <> q.query_id),
        dense AS (SELECT query_id, vec_id AS doc_id, rnk AS rank
                  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rnk FROM dsc)
                  WHERE rnk <= 20),
        dt AS (SELECT DISTINCT doc_id,
                      ('0x' || substr(md5(g), 1, 15))::BIGINT AS hg
               FROM (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
                                            for i in range(1, len(toks) - 1)]) AS g
                     FROM (SELECT doc_id, $DUCK_TOKENS AS toks FROM documents)
                     WHERE len(toks) >= 3)),
        qt AS (SELECT doc_id AS query_id, hg FROM dt WHERE doc_id % 25 = 0),
        ov AS (SELECT qt.query_id, dt.doc_id, count(*)::BIGINT AS ov
               FROM dt JOIN qt USING (hg) WHERE dt.doc_id <> qt.query_id
               GROUP BY 1, 2),
        sparse AS (SELECT query_id, doc_id, rnk AS rank
                   FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY ov DESC, doc_id) AS rnk FROM ov)
                   WHERE rnk <= 20)"""

  /** MMR greedy oracle, unrolled: the k-step greedy of
    * Similarity.mmrSelect as k window-argmax CTE layers — selection
    * state is the UNION of the previous layers' picks, so each layer is
    * pure relational algebra and the whole trajectory stays exact
    * integer arithmetic (z = lamX10·rel − (10−lamX10)·maxsim on
    * micro-snapped cosines, ties to the smaller vec id).
    */
  private def mmrSql(nCand: Int, k: Int, lamX10: Int): String = {
    val hi = 10 - lamX10
    val steps = (2 to k).map { t =>
      val p = t - 1
      s"""r$t AS (SELECT c.query_id, c.vec_id,
                       $lamX10 * c.rel_micro - $hi * max(pp.sim_micro) AS z
                FROM cand c
                JOIN pairs pp ON pp.query_id = c.query_id AND pp.id_a = c.vec_id
                JOIN sel$p s ON s.query_id = pp.query_id AND s.vec_id = pp.id_b
                WHERE NOT EXISTS (SELECT 1 FROM sel$p x
                                  WHERE x.query_id = c.query_id
                                    AND x.vec_id = c.vec_id)
                GROUP BY c.query_id, c.vec_id, c.rel_micro),
        s$t AS (SELECT query_id, vec_id, z FROM r$t
                QUALIFY row_number() OVER (PARTITION BY query_id
                                           ORDER BY z DESC, vec_id) = 1),
        sel$t AS (SELECT query_id, vec_id FROM sel$p
                  UNION ALL SELECT query_id, vec_id FROM s$t)"""
    }.mkString(",\n        ")
    val union = (1 to k)
      .map(t => s"SELECT query_id, vec_id, $t AS pick, z AS mmr_z FROM s$t")
      .mkString("\n        UNION ALL ")
    s"""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                   FROM embeddings),
        nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM nrm
              WHERE vec_id % 25 = 0),
        sc AS (SELECT query_id, nrm.vec_id,
                      round(list_dot_product(qv, v) / (qn * vn), 6) AS cosine
               FROM q, nrm WHERE nrm.vec_id <> q.query_id),
        cand AS (SELECT query_id, vec_id,
                        floor(cosine * 1e6 + 0.5)::BIGINT AS rel_micro
                 FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS rnk FROM sc)
                 WHERE rnk <= $nCand),
        pairs AS (SELECT a.query_id, a.vec_id AS id_a, b.vec_id AS id_b,
                         floor(round(list_dot_product(na.v, nb.v)
                                     / (na.vn * nb.vn), 6) * 1e6 + 0.5)::BIGINT
                           AS sim_micro
                  FROM cand a
                  JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
                  JOIN nrm na ON na.vec_id = a.vec_id
                  JOIN nrm nb ON nb.vec_id = b.vec_id),
        s1 AS (SELECT query_id, vec_id, $lamX10 * rel_micro AS z FROM cand
               QUALIFY row_number() OVER (PARTITION BY query_id
                                          ORDER BY $lamX10 * rel_micro DESC,
                                                   vec_id) = 1),
        sel1 AS (SELECT query_id, vec_id FROM s1),
        $steps
        $union"""
  }

  /** Duplicated-span CTEs mirroring NearDup.duplicatedSpans — ONE
    * generator for the q85 oracle and the q86 trim oracle so the two
    * cannot drift. Ends with a `spans` CTE of
    * (doc_id, span_start, span_end, span_tokens).
    */
  private def dupSpanCtes(n: Int, minOcc: Int, minSpan: Int): String = s"""
        toks AS (SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        g AS (SELECT doc_id, i::BIGINT - 1 AS pos,
                     ('0x' || substr(md5(array_to_string(t[i:i+${n - 1}], ' ')), 1, 15))::BIGINT AS hg
              FROM toks, unnest(range(1, len(t) - ${n - 2})) AS u(i)
              WHERE len(t) >= $n),
        dup AS (SELECT hg FROM g GROUP BY hg HAVING count(*) >= $minOcc),
        f AS (SELECT doc_id, pos FROM g WHERE hg IN (SELECT hg FROM dup)),
        nr AS (SELECT doc_id, pos,
                      CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                     ORDER BY pos) > $n
                           THEN 1 ELSE 0 END AS new_run
               FROM f),
        isl AS (SELECT doc_id, pos,
                       sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos
                                          ROWS UNBOUNDED PRECEDING) AS grp
                FROM nr),
        spans AS (
          SELECT doc_id, span_start, span_end, span_tokens FROM (
            SELECT doc_id, min(pos)::BIGINT AS span_start,
                   (max(pos) + ${n - 1})::BIGINT AS span_end,
                   (max(pos) + ${n - 1} - min(pos) + 1)::BIGINT AS span_tokens
            FROM isl GROUP BY doc_id, grp)
          WHERE span_tokens >= $minSpan)"""

  /** Embedding LSH near-neighbor CTE chain ending in `pairs`
    * (id_a, id_b, cosine) — ONE generator serving both the q49 pair
    * oracle and the q54 clustering oracle, so the bucket formula and
    * rounding cannot drift between them. */
  /** The embedding LSH band-row CTE chain ending in `bands (vec_id,
    * band_idx, bucket)` with `en (vec_id, v, vn)` also available — ONE
    * generator for the all-pairs oracles (via [[embPairsCtes]]) and
    * the batch-vs-corpus flags oracle (q209), mirroring the engine's
    * `Similarity.lshBandRows` factoring so the banding formula cannot
    * drift between its consumers in either engine. */
  private def embBandRowsCtes(bands: Int, rpb: Int): String = {
    val buckets = (0 until bands).map { b =>
      (0 until rpb).map { r =>
        val p = b * rpb + r
        val comp = s"((('0x' || substr(md5($p || '_' || i), 1, 8))::BIGINT / 2147483648.0) - 1.0)"
        s"CASE WHEN list_sum([v[i+1] * $comp for i in range(0, len(v))]) >= 0 THEN ${1L << r} ELSE 0 END"
      }.mkString(" + ")
    }.mkString("[", ",\n              ", "]")
    s"""
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings),
      en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn FROM e),
      sig AS (SELECT vec_id,
              $buckets AS buckets FROM e),
      bands AS (SELECT vec_id, b AS band_idx, buckets[b + 1] AS bucket
                FROM sig, (SELECT unnest(range(0, $bands)) AS b))"""
  }

  private def embPairsCtes(bands: Int, rpb: Int, minCosine: Double): String = {
    s"""${embBandRowsCtes(bands, rpb)},
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band_idx = b.band_idx AND a.bucket = b.bucket
                AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT c.id_a, c.id_b,
               round(list_dot_product(ea.v, eb.v) / (ea.vn * eb.vn), 6) AS cosine
        FROM cand c
        JOIN en ea ON ea.vec_id = c.id_a
        JOIN en eb ON eb.vec_id = c.id_b
        WHERE round(list_dot_product(ea.v, eb.v) / (ea.vn * eb.vn), 6) >= $minCosine)"""
  }

  override val queries: Map[String, Q] = Map(

    // Gopher-style repetition signals (Rae et al. 2021): duplicate-token
    // mass and the dominant word bigram — the standard "repetitious
    // document" quality gates, emitted as exact integer counts.
    "q51_repetition" -> Q(
      (s, d) => Terms.repetitionSignals(Tables.documents(s, d), "doc_id", "text"),
      Some(s"""
        WITH toks AS (SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        stats AS (SELECT doc_id, len(t) AS n_tokens,
                         len(list_distinct(t)) AS n_distinct_tokens FROM toks),
        bigrams AS (
          SELECT doc_id, unnest([array_to_string(t[i:i+1], ' ')
                                 for i in range(1, len(t))]) AS g
          FROM toks WHERE len(t) >= 2),
        bc AS (SELECT doc_id, g, count(*) AS cnt FROM bigrams GROUP BY 1, 2),
        top AS (SELECT doc_id, g, cnt FROM bc
                QUALIFY row_number() OVER (PARTITION BY doc_id
                                           ORDER BY cnt DESC, g) = 1)
        SELECT s.doc_id, s.n_tokens, s.n_distinct_tokens,
               coalesce(top.g, '') AS top_bigram,
               coalesce(top.cnt, 0) AS top_bigram_count
        FROM stats s LEFT JOIN top ON top.doc_id = s.doc_id""")),

    // Most distinctive term per doc: TF-IDF argmax in exact integer
    // ordering (min document frequency, then max term frequency, then
    // lexicographic) — no cross-engine ln() in the output.
    "q52_distinctive_terms" -> Q(
      (s, d) => Terms.distinctiveTerms(Tables.documents(s, d), "doc_id", "text"),
      Some(s"""
        WITH tf AS (
          SELECT doc_id, tok AS term, count(*) AS tf
          FROM (SELECT doc_id, unnest($DUCK_TOKENS) AS tok FROM documents)
          GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
        SELECT doc_id, term, tf, df
        FROM tf JOIN dfreq USING (term)
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY df, tf DESC, term) = 1""")),

    // Corpus vocabulary top-N: total occurrences + document counts, the
    // vocabulary-building aggregation (two-phase, top-N not global sort).
    "q53_vocabulary" -> Q(
      (s, d) => Terms.vocabulary(Tables.documents(s, d), "doc_id", "text", topN = 20),
      Some(s"""
        WITH tf AS (
          SELECT tok AS term, doc_id, count(*) AS cnt
          FROM (SELECT doc_id, unnest($DUCK_TOKENS) AS tok FROM documents)
          GROUP BY 1, 2)
        SELECT term, sum(cnt)::BIGINT AS n_occurrences, count(*) AS n_docs
        FROM tf GROUP BY term
        ORDER BY n_occurrences DESC, term LIMIT 20""")),

    // Embedding-cosine near-dup DEDUP end to end: LSH neighbor pairs →
    // connected components → keeper mapping. The embedding-space analog of
    // q42 (which clusters text MinHash pairs) — the last dedup modality of
    // the builder brief closed as an actionable keep/drop table.
    "q54_embedding_dedup" -> Q(
      (s, d) => {
        // occupancy-adaptive width (r11): rowsPerBand = 5 up to 4096
        // vectors (every oracle/bench scale — bit-identical results),
        // widened to hold ~128/bucket above (the fixed width measured
        // 13.3× wall at ×10: bucket occupancy ∝ n makes the band
        // self-join quadratic by construction)
        val pairs = Similarity.lshNeighborPairsAuto(Tables.embeddings(s, d),
          "vec_id", "embedding", dims = 64, bands = 4, floorRowsPerBand = 5,
          minCosine = 0.2)
        NearDup.dedupClusters(pairs, "id_a", "id_b")
          .select(col("doc_id").as("vec_id"), col("keeper_id"))
      },
      Some(s"WITH RECURSIVE ${embPairsCtes(4, 5, 0.2)}, " +
        closureTail("pairs", "vec_id"))),

    // INCREMENTAL dedup: flag a new batch (doc_id % 5 = 0) against the
    // existing corpus — exact content-hash match, else best MinHash-band
    // near match at J ≥ 0.5, else 'new'. The op an ingest tick actually
    // runs; no corpus×corpus term anywhere.
    "q55_incremental_dedup" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        NearDup.incrementalDedup(
          corpus = docs.filter(col("doc_id") % 5 =!= 0),
          batch = docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 16, bands = 8, minJaccard = 0.5)
      },
      Some(s"WITH ${minhashCtes(16, 8)}," + """
        xc AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
               FROM bands b JOIN bands c
                 ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash
                AND b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
        near AS (
          SELECT bid, cid,
                 round(len(list_intersect(sb.sh, sc.sh))::DOUBLE /
                       (len(sb.sh) + len(sc.sh) - len(list_intersect(sb.sh, sc.sh))::DOUBLE),
                       4) AS j
          FROM xc JOIN sets sb ON sb.doc_id = bid
                  JOIN sets sc ON sc.doc_id = cid),
        best AS (SELECT bid, cid, j FROM near WHERE j >= 0.5
                 QUALIFY row_number() OVER (PARTITION BY bid
                                            ORDER BY j DESC, cid) = 1),
        ex AS (SELECT b.doc_id AS bid, min(c.doc_id) AS cid
               FROM documents b JOIN documents c
                 ON md5(b.text) = md5(c.text)
                AND b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
               GROUP BY 1)
        SELECT d.doc_id,
               CASE WHEN ex.cid IS NOT NULL THEN 'exact'
                    WHEN best.cid IS NOT NULL THEN 'near'
                    ELSE 'new' END AS verdict,
               coalesce(ex.cid, best.cid) AS match_id,
               CASE WHEN ex.cid IS NOT NULL THEN 1.0::DOUBLE
                    ELSE best.j END AS jaccard
        FROM documents d
        LEFT JOIN ex ON ex.bid = d.doc_id
        LEFT JOIN best ON best.bid = d.doc_id
        WHERE d.doc_id % 5 = 0""")),

    // Deterministic mixture sampling: per-language target weights
    // up/down-sample the corpus reproducibly (md5-chosen fractional
    // copies, no RNG) — the data-mixing step ahead of training.
    "q60_mixture_sample" -> Q(
      (s, d) => Terms.mixtureSample(Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 1.5, "de" -> 0.5, "es" -> 1.0, "fr" -> 2.0, "zh" -> 0.25)),
      Some("""
        WITH w AS (
          SELECT doc_id, lang,
                 CASE lang WHEN 'en' THEN 1.5 WHEN 'de' THEN 0.5
                           WHEN 'es' THEN 1.0 WHEN 'fr' THEN 2.0
                           WHEN 'zh' THEN 0.25 ELSE 0.0 END AS wt
          FROM documents),
        c AS (
          SELECT doc_id, lang AS shard,
                 floor(wt)::BIGINT +
                 CASE WHEN ('0x' || substr(md5('mix|' || doc_id), 1, 8))::BIGINT
                           / 4294967296.0 < wt - floor(wt)
                      THEN 1 ELSE 0 END AS n
          FROM w)
        SELECT doc_id, shard, unnest(range(1, n + 1))::BIGINT AS copy
        FROM c WHERE n > 0""")),

    // Per-shard sequence packing: running token offsets + fixed-size
    // chunk assignment in doc-id order within each language shard — the
    // "pack documents into training sequences" layout step. The running
    // sum is a PARTITIONED window (per-shard independence is the scale
    // contract; global packing would be a single-task barrier).
    "q59_sequence_packing" -> Q(
      (s, d) => Terms.sequencePacking(Tables.documents(s, d), "doc_id", "text",
        "lang", blockTokens = 256),
      Some(s"""
        WITH t AS (SELECT doc_id, lang AS shard,
                          len($DUCK_TOKENS)::BIGINT AS n_tokens
                   FROM documents)
        SELECT doc_id, shard, n_tokens,
               (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT
                 AS start_tok,
               (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT // 256
                 AS chunk
        FROM t""")),

    // OOV rate per doc against the corpus top-N vocabulary — tokenizer-
    // coverage estimation; the vocabulary is a computed bounded dimension
    // (broadcasts at any corpus size).
    "q57_oov_rate" -> Q(
      (s, d) => Terms.oovStats(Tables.documents(s, d), "doc_id", "text", topN = 20),
      Some(s"""
        WITH tf AS (
          SELECT tok AS term, doc_id, count(*) AS cnt
          FROM (SELECT doc_id, unnest($DUCK_TOKENS) AS tok FROM documents)
          GROUP BY 1, 2),
        vocab AS (
          SELECT term FROM tf GROUP BY term
          ORDER BY sum(cnt) DESC, term LIMIT 20),
        toks AS (SELECT doc_id, unnest($DUCK_TOKENS) AS term FROM documents)
        SELECT doc_id, count(*) AS n_tokens,
               count(*) FILTER (term NOT IN (SELECT term FROM vocab)) AS n_oov
        FROM toks GROUP BY doc_id""")),

    // SimHash near-dup pairs: hamming-band blocking (pigeonhole-complete
    // for hamming <= bands-1) over a 48-bit fingerprint, one
    // bit_count(xor) per candidate — the SimHash dedup modality closed
    // into pairs, mirroring what q35 does for MinHash.
    "q56_simhash_pairs" -> Q(
      (s, d) => NearDup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        bits = 48, bands = 4, maxHamming = 3),
      Some {
        val fpSql = simhashSql(48)
        s"""
        WITH fp AS ($fpSql),
        bands AS (
          SELECT doc_id, simhash, b AS band_idx,
                 (simhash >> (b * 12)) & 4095 AS band_val
          FROM fp, (SELECT unnest(range(0, 4)) AS b))
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
      }),

    // Token counting: whitespace tokens + a BPE-ish subword proxy
    // (letter runs / digit runs / single punctuation marks).
    "q30_token_stats" -> Q(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokenCountFast(s, col("text")).as("n_tokens"),
                size(regexp_extract_all(lower(col("text")),
                  lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_subtokens"),
                col("n_chars")),
      Some(s"""
        SELECT doc_id, len($DUCK_TOKENS) AS n_tokens,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                 AS n_subtokens,
               n_chars
        FROM documents""")),

    // Canonical-form document fingerprint (rolling-hash substitute).
    "q31_fingerprint" -> Q(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fingerprint")),
      Some("""
        SELECT doc_id,
               md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fingerprint
        FROM documents""")),

    // Exact dedup by content hash: keeper + multiplicity per hash group.
    "q32_exact_dedup" -> Q(
      (s, d) => NearDup.exactDedup(Tables.documents(s, d), "doc_id", "text"),
      Some("""
        SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)""")),

    // Language-ID heuristic: marker-token scores, fixed tie-break chain.
    "q33_lang_id" -> Q(
      (s, d) => TextOps.withLangId(Tables.documents(s, d), "text", "pred_lang")
        .select(col("doc_id"), col("pred_lang")),
      Some(s"""
        SELECT doc_id, $langIdCaseSql AS pred_lang
        FROM documents""")),

    // Quality score: length / punctuation / stopword-density gates.
    "q34_quality_score" -> Q(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality")),
      Some(s"""
        SELECT doc_id, $qualitySql AS quality
        FROM documents""")),

    // MinHash (k=16) + LSH (8 bands × 2 rows) candidate pairs with verified
    // Jaccard on word-3-gram shingle sets.
    "q35_minhash_lsh" -> Q(
      (s, d) => NearDup.minhashLshPairsFromRows(
        TextOps.wordShingleRows(Tables.documents(s, d), "doc_id", "text", 3),
        k = 16, bands = 8),
      Some(minhashSql(16, 8))),

    // SimHash fingerprints (16-bit, md5-derived token hashes).
    "q36_simhash" -> Q(
      (s, d) => NearDup.simhash(Tables.documents(s, d), "doc_id", "text", bits = 16),
      Some(simhashSql(16))),

    // Blocked n-gram Jaccard: quadratic only inside (lang, source) blocks.
    "q37_blocked_jaccard" -> Q(
      (s, d) => NearDup.blockedJaccardPairsFromText(Tables.documents(s, d),
        "doc_id", "text", Seq("lang", "source"), n = 5, minJaccard = 0.5),
      Some("""
        WITH docs AS (
          SELECT doc_id, lang, source,
                 list_distinct([('0x' || substr(md5(substr(text, i, 5)), 1, 15))::BIGINT
                                for i in range(1, length(text) - 3)]) AS sh
          FROM documents WHERE length(text) >= 5)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))::DOUBLE),
                     4) AS jaccard
        FROM docs a JOIN docs b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))::DOUBLE),
                    4) >= 0.5""")),

    // Brute-force cosine top-k (k=5) for the query subset vec_id % 10 = 0.
    "q38_cosine_topk" -> Q(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", k = 5)
      },
      Some("""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 10 = 0),
        s AS (SELECT query_id, e.vec_id,
                     round(list_dot_product(qv, v) /
                           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                           6) AS cosine
              FROM q, e WHERE e.vec_id <> query_id)
        SELECT query_id, vec_id, cosine, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, vec_id) AS rank
              FROM s)
        WHERE rank <= 5""")),

    // ANN scale path: BANDED random-hyperplane LSH (20 planes = 4 bands ×
    // 5 bits — the MinHash banding trick on hyperplane signatures).
    // Bucket population per band is N/32 (rowsPerBand is the scale knob:
    // pick ~log2(N / wanted candidates)); 4 bands set recall —
    // SimilaritySpec MEASURES recall@3 ≈ 0.3 at the same 1/8-corpus
    // candidate budget as q43's IVF (random near-orthogonal embeddings
    // are the worst case for hyperplane LSH). Deterministic md5-seeded
    // planes; recall < 1 vs q38 by design — but the output itself is
    // exact, so it still has an oracle.
    "q39_lsh_ann" -> Q(
      // sized dispatch (r11): below 4096 corpus rows this IS
      // lshTopK(rowsPerBand = 5) — broadcast plan and results, the shape
      // the oracle pins; above it the banded equi-join + occupancy-
      // adaptive width serves (the ×100 study measured the broadcast-OR
      // nested loop at 198× wall for 100× data)
      (s, d) => Similarity.lshTopKAuto(Tables.embeddings(s, d), "vec_id", "embedding",
        dims = 64, bands = 4, floorRowsPerBand = 5, k = 3,
        queryPred = col("vec_id") % 10 === 0),
      Some {
        val (bands, rpb) = (4, 5)
        val buckets = (0 until bands).map { b =>
          (0 until rpb).map { r =>
            val p = b * rpb + r
            val comp = s"((('0x' || substr(md5($p || '_' || i), 1, 8))::BIGINT / 2147483648.0) - 1.0)"
            s"CASE WHEN list_sum([v[i+1] * $comp for i in range(0, len(v))]) >= 0 THEN ${1L << r} ELSE 0 END"
          }.mkString(" + ") + s" AS b$b"
        }.mkString(",\n                ")
        val bandMatch = (0 until bands).map(b => s"s.b$b = q.qb$b").mkString(" OR ")
        val qcols = (0 until bands).map(b => s"b$b AS qb$b").mkString(", ")
        s"""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                   FROM embeddings),
        sig AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn,
                $buckets
                FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn, $qcols FROM sig
              WHERE vec_id % 10 = 0),
        s AS (SELECT q.query_id, s.vec_id,
                     round(list_dot_product(q.qv, s.v) / (q.qn * s.vn), 6) AS cosine
              FROM sig s JOIN q
                ON ($bandMatch) AND s.vec_id <> q.query_id)
        SELECT query_id, vec_id, cosine, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, vec_id) AS rank
              FROM s)
        WHERE rank <= 3"""
      }),

    // IVF-style ANN with a FIXED-cardinality coarse quantizer: 16
    // deterministic md5-derived centroid directions (independent of table
    // size — nothing N-proportional is broadcast), per-row argmax
    // assignment (no join, no window), nprobe=2 probed cells per query,
    // top-3 within cells. The cell id is the inverted file — at scale the
    // table is bucketed/partitioned by it and a probe reads only its cells.
    "q43_ivf_ann" -> Q(
      // √N centroid rule (r11): K = 16 while √n ≤ 16 (the oracle scale),
      // K ≈ √N above — a FIXED 16-cell quantizer leaves per-probe scans
      // ∝ N/16 (measured 154× wall at ×100); √N cells make the serving
      // path sublinear per query
      (s, d) => Similarity.ivfTopKAuto(Tables.embeddings(s, d), "vec_id", "embedding",
        dims = 64, floorCentroids = 16, nprobe = 2, k = 3,
        queryPred = col("vec_id") % 10 === 0),
      Some(s"""
        WITH ${ivfAssignCtes(16, 64)},
        probes AS (
          SELECT vec_id AS query_id, v AS qv, vn AS qn, c AS cell
          FROM scored_cells
          WHERE vec_id % 10 = 0
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, c) <= 2),
        s AS (SELECT p.query_id, a.vec_id,
                     round(list_dot_product(p.qv, a.v) / (p.qn * a.vn), 6) AS cosine
              FROM probes p JOIN assigned a USING (cell)
              WHERE a.vec_id <> p.query_id)
        SELECT query_id, vec_id, cosine, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, vec_id) AS rank
              FROM s)
        WHERE rank <= 3""")),

    // Near-dup clustering: connected components over the LSH candidate
    // graph (iterative min-label propagation in Spark; transitive-closure
    // recursive CTE in the oracle) — the keep/drop mapping a dedup
    // pipeline actually applies.
    "q42_dedup_clusters" -> Q(
      (s, d) => {
        val pairs = NearDup.minhashLshPairsFromRows(
          TextOps.wordShingleRows(Tables.documents(s, d), "doc_id", "text", 3),
          k = 16, bands = 8)
        NearDup.dedupClusters(pairs, "id_a", "id_b")
      },
      Some(clusterSql(16, 8))),

    // Deterministic stratified split: hash-bucketed train/val/test
    // assignment (8/1/1) per language stratum — reproducible anywhere,
    // no RNG, no state; the standard training-data split at scale.
    "q47_stratified_split" -> Q(
      (s, d) => {
        val bucket = (TextOps.hashPrefix("split|", col("doc_id")) % 10).cast("int")
        Tables.documents(s, d)
          .withColumn("split",
            when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
               (sum(col("n_chars")) / count(col("n_chars"))).as("mean_chars"))
      },
      Some("""
        WITH assigned AS (
          SELECT *, CASE
            WHEN ('0x' || substr(md5('split|' || doc_id), 1, 8))::BIGINT % 10 < 8 THEN 'train'
            WHEN ('0x' || substr(md5('split|' || doc_id), 1, 8))::BIGINT % 10 = 8 THEN 'val'
            ELSE 'test' END AS split
          FROM documents)
        SELECT lang, split, count(*) AS n_docs,
               sum(n_chars)::DOUBLE / count(n_chars) AS mean_chars
        FROM assigned GROUP BY 1, 2""")),

    // PII-style scrubbing: redact digit runs (the stand-in for phone/SSN
    // patterns), reporting redaction counts and the scrubbed fingerprint —
    // codegen regexp, deterministic, auditable.
    "q48_redact" -> Q(
      (s, d) => Tables.documents(s, d)
        .withColumn("n_redactions",
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))))
        .withColumn("scrubbed", regexp_replace(col("text"), "[0-9]+", "<NUM>"))
        .select(col("doc_id"), col("n_redactions"),
                md5(col("scrubbed")).as("scrubbed_hash")),
      Some("""
        SELECT doc_id,
               len(regexp_extract_all(text, '[0-9]+')) AS n_redactions,
               md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS scrubbed_hash
        FROM documents""")),

    // Corpus×corpus embedding near-neighbor pairs: the EQUI-JOIN banded-
    // LSH path (no broadcast side) — all-pairs similarity mining over the
    // whole table, candidates bounded per band bucket, exact cosine only
    // on survivors. Composes with dedupClusters for embedding near-dup.
    // Occupancy-adaptive width (r12): the fixed 5-bit registration left
    // bucket occupancy ∝ n (the F2 saturation q54 already fixed in r11);
    // the Auto wrapper holds the registered shape through 4096 vectors —
    // every oracle scale — and widens above.
    "q49_lsh_pairs" -> Q(
      (s, d) => Similarity.lshNeighborPairsAuto(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, bands = 4, floorRowsPerBand = 5,
        minCosine = 0.2),
      Some(s"WITH ${embPairsCtes(4, 5, 0.2)} " +
        "SELECT id_a, id_b, cosine FROM pairs")),

    // Benchmark-contamination detection (the decontamination prerequisite
    // of a training-data pipeline): docs sharing any 8-token-gram with the
    // benchmark subset (doc_id % 20 = 0) are flagged, with per-doc overlap
    // counts. The benchmark gram set is bounded by the benchmark corpus
    // (fixed), so it BROADCASTS; the corpus side pays one per-doc-distinct
    // shuffle — no quadratic term anywhere.
    "q50_contamination" -> Q(
      (s, d) => {
        val rows = TextOps.wordShingleRows(Tables.documents(s, d), "doc_id", "text", 8)
        val hashed = rows.select(col("id"),
          TextOps.gramHash64(s, col("g")).as("hg"))
        val bench = hashed.filter(col("id") % 20 === 0).select("hg").distinct()
        val corpus = hashed.filter(col("id") % 20 =!= 0).dropDuplicates("id", "hg")
        corpus.join(broadcast(bench.withColumn("__hit", lit(1))), Seq("hg"), "left")
          .groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
               count(col("__hit")).as("n_contaminated"))
          .withColumn("contaminated", (col("n_contaminated") > 0).cast("int"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        grams AS (
          SELECT doc_id,
                 list_distinct([('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
                                for i in range(1, len(t) - 6)]) AS gs
          FROM toks WHERE len(t) >= 8),
        bench AS (SELECT DISTINCT unnest(gs) AS hg FROM grams WHERE doc_id % 20 = 0),
        corpus AS (SELECT doc_id, unnest(gs) AS hg FROM grams WHERE doc_id % 20 <> 0)
        SELECT doc_id, count(*) AS n_grams,
               count(*) FILTER (hg IN (SELECT hg FROM bench)) AS n_contaminated,
               (count(*) FILTER (hg IN (SELECT hg FROM bench)) > 0)::INT AS contaminated
        FROM corpus GROUP BY doc_id""")),

    // Multimodal decode: REAL container codecs (Bmp/Wav chunk+pixel
    // walks) over deterministic text-derived fixtures — the oracle
    // predicts every decoded feature from the text in closed form, so a
    // wrong stride, offset, endianness or skipped-chunk bug hash-fails.
    "q40_media_features" -> Q(
      (s, d) => Multimodal.extractFeatures(s,
        Multimodal.mediaFixtures(s, Tables.documents(s, d)).toDF()).toDF(),
      Some("""
        WITH p AS (
          SELECT doc_id, octet_length(encode(text))::BIGINT AS L,
                 ('0x' || substr(md5(text), 1, 4))::INT AS u
          FROM documents),
        g AS (
          SELECT doc_id, L, u,
                 (L % 31 + 2)::INT AS w, (L % 17 + 2)::INT AS h,
                 (8000 + (L % 8) * 500)::INT AS rate,
                 (L + 16)::BIGINT AS ns
          FROM p)
        SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
          (CASE WHEN doc_id % 2 = 0 THEN 54 + ((w * 3 + 3) // 4) * 4 * h
                ELSE 64 + ns * 2 END)::BIGINT AS n_bytes,
          (CASE WHEN doc_id % 2 = 0 THEN w ELSE 0 END)::INT AS width,
          (CASE WHEN doc_id % 2 = 0 THEN h ELSE 0 END)::INT AS height,
          (CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 0 END)::INT AS bpp,
          CASE WHEN doc_id % 2 = 0 THEN (w + h - 2) / 2.0 ELSE 0.0 END AS mean_gray,
          (CASE WHEN doc_id % 2 = 0 THEN 0 ELSE rate END)::INT AS sample_rate,
          (CASE WHEN doc_id % 2 = 0 THEN 0 ELSE ns END)::BIGINT AS n_samples,
          (CASE WHEN doc_id % 2 = 0 THEN 0
                ELSE greatest(15000, CASE WHEN u >= 32768 THEN abs(u - 65536) ELSE u END)
           END)::INT AS peak,
          (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE (ns + 255) // 256 END)::BIGINT AS n_frames
        FROM g""")),

    // END-TO-END PRETRAINING PIPELINE: the composition story for the LLM
    // surface (what q44/q45 are for the reference cascade) — quality gate
    // (q34) → exact dedup (q32) → near-dup drop (q35+q42, J >= 0.5) →
    // decontamination (q50) → mixture sampling (q60) → sequence packing
    // (q59), one oracle-checked dataflow emitting the packed (doc, shard,
    // chunk) layout a trainer reads. Stage ORDER is load-bearing (PLANS.md
    // q61 audit): dedup runs BEFORE decontamination (the benchmark gram
    // set is fixed external data, so dropping dups first only shrinks the
    // corpus side), sampling after every drop (weights apply to the clean
    // corpus), packing last (offsets depend on every upstream decision).
    // Gating on the RAW quality double is safe cross-engine: it is per-row
    // closed-form arithmetic, bit-identical in both engines by doctrine.
    "q61_pretraining_pipeline" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // 1. quality gate — keeps ~2/3 of the synthetic corpus at 0.55
        val gated = docs.filter(TextOps.qualityScore(col("text")) >= 0.55)
          .select(col("doc_id"), col("text"), col("lang"))
        // 2. exact dedup: only each content-hash group's min-id keeper
        val keepers = NearDup.exactDedup(gated, "doc_id", "text")
          .select(col("keeper_id"))
        val exact = gated.join(keepers, col("doc_id") === col("keeper_id"),
          "left_semi")
          // EAGER checkpoint, round-8 experiment: the subtree above is
          // consumed by TWO separate executions (dedupClusters' internal
          // pair materialization, then the final output job) and AQE
          // exchange reuse does not cross executions — without this the
          // gate + exact-dedup pass runs twice
          .localCheckpoint(true)
        // 3. near-dup drop: LSH candidates verified at J >= 0.5, clustered;
        //    non-keepers dropped (docs in no cluster pass through the anti
        //    join untouched)
        val pairs = NearDup.minhashLshPairsFromRows(
          TextOps.wordShingleRows(exact, "doc_id", "text", 3), k = 16, bands = 8)
          .filter(col("jaccard") >= 0.5)
        val dropNear = NearDup.dedupClusters(pairs, "id_a", "id_b")
          .filter(col("doc_id") =!= col("keeper_id")).select(col("doc_id"))
        // NOT checkpointed despite two downstream consumers: the
        // gate→dedup→LSH→cluster subtrees canonicalize equal, so AQE's
        // runtime exchange reuse already dedupes the heavy work, and an
        // eager barrier here measured SLOWER (9.1 vs 7.2 s best-of-3 at
        // sf0.1) by serializing the two branches.
        val deduped = exact.join(dropNear, Seq("doc_id"), "left_anti")
        // 4. decontamination: drop benchmark docs (doc_id % 20 = 0) and any
        //    survivor sharing an 8-token gram with them. Strategy chosen
        //    by MEASURED benchmark-gram count (TextOps.sizedSemiJoin): a
        //    real benchmark suite is fixed O(MB) external data and
        //    broadcasts; the SYNTHETIC stand-in (doc_id % 20) is 5% of
        //    the corpus, so past the threshold the join degrades to a
        //    shuffle semi-join instead of a corpus-scaled broadcast
        //    (PLANS.md q61 audit; PipelineOpsSpec pins both paths equal)
        def grams8(df: org.apache.spark.sql.DataFrame) =
          TextOps.wordShingleRows(df, "doc_id", "text", 8)
            .select(col("id"),
              TextOps.gramHash64(s, col("g")).as("hg"))
        val bench = grams8(docs.filter(col("doc_id") % 20 === 0))
          .select("hg").distinct()
        val contaminated = TextOps.sizedSemiJoin(grams8(deduped), bench, "hg")
          .select(col("id").as("doc_id")).distinct()
        val clean = deduped.filter(col("doc_id") % 20 =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti")
        // 5. mixture sampling, n_tokens carried on the sample rows so the
        //    packing stage needs no corpus-sized join back
        val sampled = Terms.mixtureSample(
          clean.withColumn("n_tokens",
            TextOps.tokenCountFast(s, col("text")).cast("long")),
          "doc_id", "lang",
          Map("en" -> 1.5, "de" -> 0.5, "es" -> 1.0, "fr" -> 2.0, "zh" -> 0.25),
          carry = Seq("n_tokens"))
        // 6. per-shard sequence packing over the (doc, copy) sample rows
        Terms.packPrepared(sampled, blockTokens = 256,
            orderCols = Seq("doc_id", "copy"))
          .select(col("doc_id"), col("shard"), col("copy"), col("n_tokens"),
            col("start_tok"), col("chunk"))
      },
      Some(s"""
        WITH RECURSIVE
        s1 AS (
          SELECT doc_id, text, lang FROM documents
          WHERE $qualitySql >= 0.55),
        s2 AS (
          SELECT * FROM s1
          QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        ${minhashCtes(16, 8, src = "s2")},
        pairs AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sets sa ON sa.doc_id = c.id_a
          JOIN sets sb ON sb.doc_id = c.id_b
          WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                      (len(sa.sh) + len(sb.sh)
                       - len(list_intersect(sa.sh, sb.sh))::DOUBLE),
                      4) >= 0.5),
        ${closureCtes("pairs")},
        dropn AS (SELECT node AS doc_id FROM reach GROUP BY node
                  HAVING min(root) <> node),
        s3 AS (SELECT * FROM s2
               WHERE doc_id NOT IN (SELECT doc_id FROM dropn)),
        toks8 AS (SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        g8 AS (SELECT doc_id,
                      list_distinct([('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
                                     for i in range(1, len(t) - 6)]) AS gs
               FROM toks8 WHERE len(t) >= 8),
        bench AS (SELECT DISTINCT unnest(gs) AS hg FROM g8 WHERE doc_id % 20 = 0),
        bad AS (SELECT DISTINCT doc_id
                FROM (SELECT doc_id, unnest(gs) AS hg FROM g8)
                WHERE hg IN (SELECT hg FROM bench)),
        s4 AS (SELECT * FROM s3
               WHERE doc_id % 20 <> 0
                 AND doc_id NOT IN (SELECT doc_id FROM bad)),
        cnt AS (
          SELECT doc_id, lang AS shard, len($DUCK_TOKENS)::BIGINT AS n_tokens,
                 floor(wt)::BIGINT +
                 CASE WHEN ('0x' || substr(md5('mix|' || doc_id), 1, 8))::BIGINT
                           / 4294967296.0 < wt - floor(wt)
                      THEN 1 ELSE 0 END AS n
          FROM (SELECT *, CASE lang WHEN 'en' THEN 1.5 WHEN 'de' THEN 0.5
                                    WHEN 'es' THEN 1.0 WHEN 'fr' THEN 2.0
                                    WHEN 'zh' THEN 0.25 ELSE 0.0 END AS wt
                FROM s4)),
        sam AS (SELECT doc_id, shard, n_tokens,
                       unnest(range(1, n + 1))::BIGINT AS copy
                FROM cnt WHERE n > 0)
        SELECT doc_id, shard, copy, n_tokens,
               (sum(n_tokens) OVER w - n_tokens)::BIGINT AS start_tok,
               (sum(n_tokens) OVER w - n_tokens)::BIGINT // 256 AS chunk
        FROM sam
        WINDOW w AS (PARTITION BY shard ORDER BY doc_id, copy
                     ROWS UNBOUNDED PRECEDING)""")),

    // Frame sampling over decoded audio (every 4th frame of 256 samples),
    // sample_rate carried onto each frame row.
    "q41_frame_sample" -> Q(
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d)
          .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
          .map { case (id, text) =>
            Multimodal.MediaRow(id, "audio", Multimodal.wavFixture(text)) }
        Multimodal.sampleFrames(
          Multimodal.extractFeatures(s, media.toDF()).toDF(),
          stride = 4, carry = Seq("sample_rate"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id, octet_length(encode(text))::BIGINT AS L
          FROM documents),
        f AS (
          SELECT doc_id,
                 (8000 + (L % 8) * 500)::INT AS sample_rate,
                 ((L + 16 + 255) // 256)::BIGINT AS n_frames
          FROM p)
        SELECT doc_id, 'audio' AS media_type, sample_rate,
               unnest(range(0, n_frames, 4))::BIGINT AS frame_idx
        FROM f""")),

    // VIDEO frame sampling through the real Y4M stream walker (third
    // modality): decode every frame's luma plane, keep every 2nd frame.
    // Unlike q41 (frame INDICES over audio), the sampled rows here carry a
    // per-frame DECODED feature (mean_y), so a wrong plane stride, marker
    // scan, or frame offset in the walker hash-fails against the closed
    // form. Whole pipeline is scan-stage flatMap — no shuffle.
    "q62_video_frames" -> Q(
      (s, d) => {
        val stats = Multimodal.videoFrameStats(s,
          Multimodal.videoFixtures(s, Tables.documents(s, d)).toDF()).toDF()
        stats.filter(col("frame_idx") % 2 === 0)
      },
      Some("""
        WITH p AS (
          SELECT doc_id, octet_length(encode(text))::BIGINT AS L
          FROM documents),
        g AS (
          SELECT doc_id,
                 ((L % 8 + 2) * 2)::INT AS width,
                 ((L % 5 + 2) * 2)::INT AS height,
                 (24 + doc_id % 2)::INT AS fps_num,
                 (doc_id % 4 + 2)::BIGINT AS n_frames
          FROM p),
        fr AS (
          SELECT doc_id, width, height, fps_num, n_frames,
                 unnest(range(0, n_frames, 2))::BIGINT AS frame_idx
          FROM g)
        SELECT doc_id, width, height, fps_num, n_frames, frame_idx,
               ((doc_id * 31 + frame_idx * 7) % 200
                + (width + height - 2) // 2)::DOUBLE AS mean_y
        FROM fr""")),

    // Winnowed fingerprints (Schleimer MOSS winnowing): ~2/(w+1)-density
    // gram selection that still guarantees any shared >= w+k-1-token run
    // shares a fingerprint — the sub-document dedup/plagiarism signal
    // between q31's whole-doc fingerprint and q50's every-gram set. The
    // oracle mirrors the window minima with ordered list comprehensions.
    "q63_winnowed_fingerprints" -> Q(
      (s, d) => TextOps.winnowedFingerprints(
        Tables.documents(s, d), "doc_id", "text", k = 4, w = 4),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        gs AS (
          SELECT doc_id,
                 [('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15))::BIGINT
                  for i in range(1, len(t) - 2)] AS ghs
          FROM toks WHERE len(t) >= 4),
        win AS (
          SELECT doc_id,
                 CASE WHEN len(ghs) < 4 THEN [list_min(ghs)]
                      ELSE [list_min(ghs[j:j+3]) for j in range(1, len(ghs) - 2)]
                 END AS fps
          FROM gs)
        SELECT DISTINCT doc_id, fp
        FROM (SELECT doc_id, unnest(fps) AS fp FROM win)""")),

    // Shared-passage pairs over the winnowed fingerprints (MOSS's actual
    // use-case): partial duplication/containment that whole-doc MinHash
    // Jaccard dilutes away on long documents. Boilerplate fingerprints
    // (doc-freq > 10) are dropped first — also the scale guard bounding
    // the fp self-join's per-key blowup.
    "q64_fingerprint_overlap" -> Q(
      (s, d) => TextOps.fingerprintOverlapPairs(
        Tables.documents(s, d), "doc_id", "text",
        k = 4, w = 4, maxDocFreq = 10, minShared = 2),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        gs AS (
          SELECT doc_id,
                 [('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15))::BIGINT
                  for i in range(1, len(t) - 2)] AS ghs
          FROM toks WHERE len(t) >= 4),
        win AS (
          SELECT doc_id,
                 CASE WHEN len(ghs) < 4 THEN [list_min(ghs)]
                      ELSE [list_min(ghs[j:j+3]) for j in range(1, len(ghs) - 2)]
                 END AS fps
          FROM gs),
        fps AS (
          SELECT DISTINCT doc_id, fp
          FROM (SELECT doc_id, unnest(fps) AS fp FROM win)),
        rare AS (
          SELECT doc_id, fp FROM fps
          QUALIFY count(*) OVER (PARTITION BY fp) <= 10)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*)::BIGINT AS shared_fps
        FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 2""")),

    // BM25 top-k retrieval: keyword queries against the corpus through the
    // inverted-index access path (query-term isin BEFORE the postings
    // aggregation). Scores are per-term micro-snapped then integer-summed
    // (order-independent), ranking ties break on doc_id. The SQL mirrors
    // the Spark arithmetic op for op — same association, same ln form.
    "q65_bm25_topk" -> Q(
      (s, d) => Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        queries = Map(1 -> "spark table join", 2 -> "window agg sort fast",
          3 -> "customer query value"),
        k = 5),
      Some(s"""
        WITH q(query_id, term) AS (VALUES
          (1, 'spark'), (1, 'table'), (1, 'join'),
          (2, 'window'), (2, 'agg'), (2, 'sort'), (2, 'fast'),
          (3, 'customer'), (3, 'query'), (3, 'value')),
        stats AS (
          SELECT count(*)::BIGINT AS n_docs,
                 sum(len($DUCK_TOKENS))::BIGINT AS sum_dl
          FROM documents),
        toks AS (
          SELECT doc_id, len($DUCK_TOKENS)::BIGINT AS dl,
                 unnest($DUCK_TOKENS) AS term
          FROM documents),
        postings AS (
          SELECT doc_id, term, dl, count(*)::BIGINT AS tf
          FROM toks WHERE term IN (SELECT term FROM q)
          GROUP BY 1, 2, 3),
        dfreq AS (
          SELECT term,
                 s.sum_dl::DOUBLE / s.n_docs::DOUBLE AS avgdl,
                 ln(1.0 + (s.n_docs::DOUBLE - count(*) + 0.5) / (count(*) + 0.5)) AS idf
          FROM postings, stats s GROUP BY term, s.n_docs, s.sum_dl),
        scored AS (
          SELECT q.query_id, p.doc_id,
                 -- constants forced through DOUBLE so both engines run
                 -- the IDENTICAL IEEE sequence: DuckDB's DECIMAL would
                 -- compute tf*(1.2+1.0) exactly (tf*2.2) and round ONCE
                 -- at the division, while Spark rounds at the literal —
                 -- a 1-ulp numerator drift that can flip the micro floor
                 sum(floor(
                   (d.idf * ((p.tf::DOUBLE * (1.2::DOUBLE + 1.0)) /
                     (p.tf + 1.2::DOUBLE * (1.0 - 0.75 + 0.75 * p.dl / d.avgdl))))
                   * 1e6 + 0.5))::BIGINT AS score_micro
          FROM postings p
          JOIN dfreq d USING (term)
          JOIN q USING (term)
          GROUP BY 1, 2)
        SELECT query_id, doc_id, score_micro / 1e6 AS score, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score_micro DESC, doc_id) AS rank
              FROM scored)
        WHERE rank <= 5""")),

    // Unigram-LM surprisal scoring — the dependency-free stand-in for the
    // perplexity filter of CCNet-style curation. ln enters per row only;
    // the per-doc aggregate is an exact integer micro-sum.
    "q66_unigram_surprisal" -> Q(
      (s, d) => Retrieval.unigramSurprisal(Tables.documents(s, d), "doc_id", "text"),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, unnest($DUCK_TOKENS) AS term FROM documents),
        counts AS (SELECT term, count(*)::BIGINT AS c FROM toks GROUP BY 1),
        total AS (SELECT sum(c)::BIGINT AS t FROM counts),
        perdoc AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 sum(floor((ln(t.t::DOUBLE) - ln(c.c::DOUBLE)) * 1e6 + 0.5))::BIGINT
                   AS surprisal_micro
          FROM toks JOIN counts c USING (term), total t
          GROUP BY 1)
        SELECT doc_id, n_tokens, surprisal_micro,
               surprisal_micro / (n_tokens::DOUBLE * 1e6) AS mean_surprisal
        FROM perdoc""")),

    // Domain-level quality gating: keep docs whose SOURCE clears a mean
    // quality bar — the "drop bad domains wholesale" curation step. The
    // mean test is an integer micro-sum comparison (no division).
    "q67_domain_filter" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Retrieval.domainQualityFilter(docs, "doc_id", "source",
          TextOps.qualityScore(col("text")), minMean = 0.6)
      },
      Some(s"""
        WITH q AS (
          SELECT doc_id, source, floor(($qualitySql) * 1e6 + 0.5) AS qm
          FROM documents),
        passing AS (
          SELECT source FROM q GROUP BY source
          HAVING sum(qm) >= 0.6 * 1e6 * count(*))
        SELECT doc_id, source AS domain FROM q
        WHERE source IN (SELECT source FROM passing)""")),

    // Embedding scalar quantization audit (int8 storage feasibility): per
    // vector, min/max and the uniform-256-level reconstruction SSE in
    // exact micro-units — one custom codegen Expression, zero shuffle,
    // scan-stage parallelism. The oracle recomputes the identical
    // IEEE sequence with list lambdas.
    "q68_quantize_stats" -> Q(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        emb.select(col("vec_id"),
            ArrayOps.quantStats(s, col("embedding").cast("array<double>"), 256).as("qs"))
          .select(col("vec_id"),
            element_at(col("qs"), 1).as("vmin"),
            element_at(col("qs"), 2).as("vmax"),
            element_at(col("qs"), 3).cast("long").as("sse_micro"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings),
        m AS (
          SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM e),
        s AS (
          SELECT vec_id, v, vmin, vmax, (vmax - vmin) / 255.0 AS scale FROM m)
        SELECT vec_id, vmin, vmax,
               CASE WHEN vmax = vmin THEN 0
                    ELSE list_sum(list_transform(v, x ->
                      floor((x - (vmin + floor((x - vmin) / scale + 0.5) * scale))
                          * (x - (vmin + floor((x - vmin) / scale + 0.5) * scale))
                          * 1e6 + 0.5)))::BIGINT
               END AS sse_micro
        FROM s""")),

    // Within-doc duplicate n-gram mass (Gopher repetition rules): the
    // share of 3-gram occurrences whose gram repeats inside the doc.
    // One exchange — both aggregations reuse the shingle shuffle's
    // doc-id partitioning (same property as the q63 winnowing audit).
    "q69_dup_ngram_mass" -> Q(
      (s, d) => Terms.dupNgramMass(Tables.documents(s, d), "doc_id", "text", n = 3),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        gs AS (
          SELECT doc_id,
                 unnest([array_to_string(t[i:i+2], ' ')
                         for i in range(1, len(t) - 1)]) AS g
          FROM toks WHERE len(t) >= 3),
        cnt AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM gs GROUP BY 1, 2)
        SELECT doc_id, sum(c)::BIGINT AS n_grams,
               sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::BIGINT AS n_dup_occurrences,
               sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE
                 AS dup_fraction
        FROM cnt GROUP BY 1""")),

    // DSIR-lite importance resampling: non-target docs kept with
    // probability = hashed-2-gram overlap with the target sample, via the
    // deterministic md5 draw (u·n < hits — division-free keep test).
    "q70_importance_resample" -> Q(
      (s, d) => Retrieval.importanceResample(Tables.documents(s, d), "doc_id", "text",
        targetPred = col("doc_id") % 20 === 0, n = 2),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        grams AS (
          SELECT doc_id,
                 list_distinct([('0x' || substr(md5(array_to_string(t[i:i+1], ' ')), 1, 15))::BIGINT
                                for i in range(1, len(t))]) AS gs
          FROM toks WHERE len(t) >= 2),
        target AS (SELECT DISTINCT unnest(gs) AS hg FROM grams WHERE doc_id % 20 = 0),
        corpus AS (SELECT doc_id, unnest(gs) AS hg FROM grams WHERE doc_id % 20 <> 0),
        sc AS (
          SELECT doc_id, count(*)::BIGINT AS n_grams,
                 count(*) FILTER (hg IN (SELECT hg FROM target))::BIGINT AS n_target_grams
          FROM corpus GROUP BY 1)
        SELECT doc_id, n_grams, n_target_grams
        FROM sc
        WHERE ('0x' || substr(md5('dsir|' || doc_id), 1, 8))::BIGINT / 4294967296.0
                * n_grams
              < n_target_grams""")),

    // Deterministic per-group subsample: 10 docs per language by seeded
    // md5 rank — stable eval-subset carving (no RNG). Plans as
    // partial+final WindowGroupLimit, one exchange on the group key.
    "q71_per_group_sample" -> Q(
      (s, d) => Terms.perGroupSample(Tables.documents(s, d), "doc_id", "lang", k = 10),
      Some("""
        SELECT doc_id, grp, rank FROM (
          SELECT doc_id, lang AS grp,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY ('0x' || substr(md5('sample|' || doc_id), 1, 8))::BIGINT,
                            doc_id) AS rank
          FROM documents)
        WHERE rank <= 10""")),

    // Token-id encoding against the corpus top-20 vocabulary (text ->
    // tensor prep): exploded (doc_id, pos, token_id) rows, OOV id = 20.
    // Corpus side is scan-stage codegen (posexplode + broadcast join,
    // no shuffle); the vocab id assignment is a bounded 20-row window.
    "q72_token_ids" -> Q(
      (s, d) => Terms.tokenIds(Tables.documents(s, d), "doc_id", "text", topN = 20),
      Some(s"""
        WITH tf AS (
          SELECT tok AS term, doc_id, count(*) AS cnt
          FROM (SELECT doc_id, unnest($DUCK_TOKENS) AS tok FROM documents)
          GROUP BY 1, 2),
        vocab AS (
          SELECT term, row_number() OVER (ORDER BY sum(cnt) DESC, term) - 1 AS token_id
          FROM tf GROUP BY term
          ORDER BY sum(cnt) DESC, term LIMIT 20),
        toks AS (
          SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS term
          FROM (SELECT doc_id, $DUCK_TOKENS AS t FROM documents))
        SELECT doc_id, pos::BIGINT AS pos,
               coalesce(v.token_id, 20)::BIGINT AS token_id
        FROM toks LEFT JOIN vocab v USING (term)""")),

    // Oracle-checkable distributed Lloyd step: seeded-quantizer
    // assignment (the q43 CTE chain — one generator, no drift), then
    // per-(cell, dim) member counts and micro-snapped means. The snapped
    // mean is order-independent integer arithmetic, which is exactly why
    // trainCentroids' raw fp means CANNOT be oracle-checked and these can.
    "q73_kmeans_refine" -> Q(
      (s, d) => Similarity.refineCentroidsExact(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, centroids = 16),
      Some(s"""
        WITH ${ivfAssignCtes(16, 64)},
        pos AS (SELECT cell, unnest(range(0, 64)) AS i, unnest(v) AS x
                FROM assigned)
        SELECT cell::BIGINT AS cell, i::BIGINT AS i,
               count(*)::BIGINT AS n_members,
               sum(floor(x * 1e6 + 0.5))::BIGINT AS m_micro,
               sum(floor(x * 1e6 + 0.5))::DOUBLE / (count(*)::DOUBLE * 1e6) AS m
        FROM pos GROUP BY 1, 2""")),

    // ITERATIVE snapped-Lloyd training (VERDICT r12 #1): 3 unrolled
    // engine-exact refine steps — assignment re-rooted at the source
    // scan per round with the previous round's snapped means as kernel
    // literals (bounded C·d driver data between rounds; NO growing
    // lineage, see trainCentroidsExactMatrix scaladoc), emitted as the
    // full trained C×d grid with empty-cell carry. The oracle replays
    // all 3 rounds from the shared seeded-quantizer formula.
    "q211_kmeans_train" -> Q(
      (s, d) => Similarity.trainCentroidsExact(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, centroids = 16, iterations = 3),
      Some(s"""
        WITH ${kmeansTrainCtes(16, 64, 3)}
        SELECT c::BIGINT AS cell, i::BIGINT AS i, n_members, x AS m
        FROM cr3""")),

    // TRAINED-QUANTIZER IVF SEARCH (r13, closes the training loop end
    // to end): q43's ANN serving shape with the quantizer REPLACED by
    // the q211-trained matrix (2 snapped Lloyd rounds) — the search a
    // deployment actually runs after an index build, and the reason
    // q43 had to keep the seeded quantizer is exactly what the snapped
    // trainer removed: fp-ordered training made trained assignments
    // engine-varying; snapped training makes the WHOLE path — train,
    // assign, probe, rank — oracle-checkable. The oracle replays 2
    // training rounds from the shared kmeansTrainCtes, then the q43
    // probe discipline against the trained centroid arrays.
    "q215_ivf_trained_ann" -> Q(
      // r13 F11 discipline applied at registration: the Auto wrapper
      // holds C = 16 through 4096 vectors (bit-identical to this fixed
      // oracle at every testdata scale) and trains a sqrt-N quantizer
      // above — the x100 study measured the fixed shape at 21x
      (s, d) => Similarity.trainedIvfTopKAuto(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, floorCentroids = 16,
        iterations = 2, nprobe = 2, k = 3,
        queryPred = col("vec_id") % 25 === 0),
      Some(s"""
        WITH ${trainedAssignCtes(16, 64, 2)},
        probes AS (SELECT vec_id AS query_id, c AS cell FROM sc
                   WHERE vec_id % 25 = 0
                   QUALIFY row_number() OVER (PARTITION BY vec_id
                                              ORDER BY ccos DESC, c) <= 2),
        qv AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM en
               WHERE vec_id % 25 = 0)
        SELECT query_id, vec_id, cosine, rank
        FROM (SELECT p.query_id, a.vec_id,
                     round(list_dot_product(qv.qv, a.v)
                           / (qv.qn * a.vn), 6) AS cosine,
                     row_number() OVER (PARTITION BY p.query_id
                       ORDER BY round(list_dot_product(qv.qv, a.v)
                                      / (qv.qn * a.vn), 6) DESC,
                                a.vec_id) AS rank
              FROM probes p
              JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id
              JOIN qv ON qv.query_id = p.query_id)
        WHERE rank <= 3""")),

    // TRAINED-QUANTIZER SemDeDup (r13): q74 against the q211-trained
    // cell structure — the form Abbas et al. actually specify (SemDeDup
    // clusters with TRAINED k-means; the seeded q74 was the honest
    // approximation while training was fp-ordered). Better-fitting
    // cells concentrate near-duplicates, which is the paper's whole
    // premise; the per-cell quadratic bound is unchanged. Shares
    // trainedAssignCtes with q215 — training, assignment, and the
    // survivor logic each have exactly one generator.
    "q216_semantic_dedup_trained" -> Q(
      // the same Auto treatment: floor-held C=16 at oracle scales,
      // sqrt-N trained cells above (17.5x measured for 100x data vs the
      // fixed-16 quadratic's ~2500 s arithmetic)
      (s, d) => Similarity.trainedSemanticDedupAuto(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, floorCentroids = 16,
        iterations = 2, minCosine = 0.2),
      Some(s"""
        WITH ${trainedAssignCtes(16, 64, 2)},
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM asg a JOIN asg b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(list_dot_product(a.v, b.v) / (a.vn * b.vn), 6) >= 0.2)
        SELECT vec_id, cell::BIGINT AS cell FROM asg
        WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""")),

    // SemDeDup: drop any vector with a lower-id cell-mate within cosine
    // 0.2 — the clustering-bounded semantic dedup (quadratic term runs
    // per cell, pairs split across cells missed by the paper's design).
    // Shares the q43/q73 assignment CTE generator.
    "q74_semantic_dedup" -> Q(
      (s, d) => Similarity.semanticDedup(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, centroids = 16, minCosine = 0.2),
      Some(s"""
        WITH ${ivfAssignCtes(16, 64)},
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(list_dot_product(a.v, b.v) / (a.vn * b.vn), 6) >= 0.2)
        SELECT vec_id, cell::BIGINT AS cell FROM assigned
        WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""")),

    // Corpus data card in ONE pass: doc/token/char totals at every
    // (lang, source) granularity via CUBE — grouping-set expansion rides
    // a single exchange with partial aggregation (no per-dimension
    // re-scans), the reporting shape that matters when the scan is 100 TB.
    "q75_corpus_profile" -> Q(
      (s, d) => Tables.documents(s, d)
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(TextOps.tokenCountFast(s, col("text")).cast("long")).as("n_tokens"),
             sum(col("n_chars")).as("sum_chars")),
      Some(s"""
        SELECT lang, source, count(*) AS n_docs,
               sum(len($DUCK_TOKENS))::BIGINT AS n_tokens,
               sum(n_chars)::BIGINT AS sum_chars
        FROM documents GROUP BY CUBE (lang, source)""")),

    // Feature-hashing TF-IDF (hashing trick): fixed-dim sparse text
    // featurization with NO vocabulary pass — the dimension table is
    // bounded by the modulus, not Heaps' law. One (doc, dim) shuffle;
    // df is a 64-row broadcast; ln is per-row, micro-snapped (form 4).
    "q76_hashed_tfidf" -> Q(
      (s, d) => Terms.hashedTfIdf(Tables.documents(s, d), "doc_id", "text",
        dims = 64),
      Some(s"""
        WITH tf AS (
          SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS dim,
                 count(*)::BIGINT AS tf
          FROM (SELECT doc_id, unnest($DUCK_TOKENS) AS tok FROM documents)
          GROUP BY 1, 2),
        dfreq AS (SELECT dim, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
        SELECT doc_id, dim, tf, df, w_micro, w_micro::DOUBLE / 1e6 AS w
        FROM (
          SELECT doc_id, dim, tf, df,
                 floor(tf::DOUBLE * ln((n_docs + 1.0) / (df + 1.0)) * 1e6
                       + 0.5)::BIGINT AS w_micro
          FROM tf JOIN dfreq USING (dim) CROSS JOIN n)""")),

    // Integer PageRank over the embedding near-dup graph (q49's edges):
    // centrality-based canonical pick — per cluster, the highest-rank
    // member is the most-connected copy. All-integer update rule
    // (micro-units, div truncation) so both engines agree bit-for-bit;
    // 3 fixed iterations = 3 node-sized join+agg rounds.
    // Edge generator is the occupancy-adaptive LSH (r12, the q54/q49
    // treatment): the fixed 5-bit width measured 8.3× wall at ×10 on
    // the r12 graph-family study purely from bucket occupancy ∝ n;
    // the Auto wrapper is bit-identical through 4096 vectors.
    "q77_pagerank_canonical" -> Q(
      (s, d) => PageRank.pageRankMicro(
        Similarity.lshNeighborPairsAuto(Tables.embeddings(s, d),
          "vec_id", "embedding", dims = 64, bands = 4, floorRowsPerBand = 5,
          minCosine = 0.2),
        "id_a", "id_b", iters = 3),
      Some {
        val iterCtes = (1 to 3).map { i =>
          s"""c$i AS (SELECT ed.dst AS node, sum(r.rm // d.deg)::BIGINT AS s
               FROM ed JOIN r${i - 1} r ON r.node = ed.src
                      JOIN deg d ON d.src = ed.src
               GROUP BY 1),
          r$i AS (SELECT n.node,
                         (150000 + (coalesce(c.s, 0) * 85) // 100)::BIGINT AS rm
                  FROM nodes n LEFT JOIN c$i c USING (node))"""
        }.mkString(",\n        ")
        s"""
        WITH ${embPairsCtes(4, 5, 0.2)},
        ed AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
        deg AS (SELECT src, count(*)::BIGINT AS deg FROM ed GROUP BY 1),
        nodes AS (SELECT DISTINCT src AS node FROM ed),
        r0 AS (SELECT node, 1000000::BIGINT AS rm FROM nodes),
        $iterCtes
        SELECT node, rm AS rank_micro, rm::DOUBLE / 1e6 AS rank FROM r3"""
      }),

    // EXACT top-quartile quality gate: ceil(N/4) best docs by the q34
    // score, ties at the threshold broken by doc id. The oracle phrases
    // it as one global-sort window; the engine phrases it as a bounded
    // micro-score histogram + a codegen filter (Terms.topQuantileGate
    // scaladoc) — same set, no corpus-sized sort anywhere.
    "q78_quantile_gate" -> Q(
      (s, d) => Terms.topQuantileGate(Tables.documents(s, d), "doc_id",
        TextOps.qualityScore(col("text")), frac = 0.25),
      Some(s"""
        WITH s AS (
          SELECT doc_id,
                 floor(($qualitySql) * 1e6 + 0.5)::BIGINT AS q_micro
          FROM documents),
        ranked AS (
          SELECT doc_id, q_micro,
                 row_number() OVER (ORDER BY q_micro DESC, doc_id) AS rn,
                 count(*) OVER () AS n
          FROM s)
        SELECT doc_id, q_micro FROM ranked WHERE rn <= ceil(0.25 * n)""")),

    // Sliding-window chunking with stride (context-window carving):
    // 32-token windows every 16 positions — sized so the synthetic docs
    // (~40-60 tokens) exercise BOTH branches of the tail clip (full
    // windows and natural partials; a 128-token window never clipped at
    // gate SFs and made the oracle insensitive to `len`). Pure per-row
    // codegen — a bounded sequence per doc, zero shuffle.
    "q79_chunk_windows" -> Q(
      (s, d) => Terms.chunkWindows(Tables.documents(s, d), "doc_id", "text",
        len = 32, stride = 16),
      Some(s"""
        WITH t AS (
          SELECT doc_id, len($DUCK_TOKENS)::BIGINT AS n_tokens FROM documents),
        st AS (
          SELECT doc_id, n_tokens,
                 unnest(range(0, n_tokens, 16))::BIGINT AS start_tok
          FROM t WHERE n_tokens > 0)
        SELECT doc_id, (start_tok // 16)::BIGINT AS chunk_id, start_tok,
               least(32, n_tokens - start_tok)::BIGINT AS chunk_len
        FROM st""")),

    // Frequency-capped dedup (soft dedup): keep up to 2 copies per
    // exact-duplicate group, lowest ids first. The synthetic documents
    // table is duplicate-free, so the input FABRICATES duplicate groups
    // deterministically (every doc_id % 10 = 0 doc appears 3×, offset
    // ids) — otherwise the cap never fires and the oracle can't tell
    // k=2 from k=3 (vacuous-pass guard). Plans as partial+final
    // WindowGroupLimit — only k rows per group per partition survive
    // the content-hash shuffle.
    "q80_capped_dedup" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val dup = docs.filter(col("doc_id") % 10 === 0)
        val tripled = docs
          .union(dup.withColumn("doc_id", col("doc_id") + 1000000L))
          .union(dup.withColumn("doc_id", col("doc_id") + 2000000L))
        NearDup.dedupCapped(tripled, "doc_id", "text", maxCopies = 2)
      },
      Some("""
        WITH tripled AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0)
        SELECT doc_id, copy_rank FROM (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY md5(text)
                                    ORDER BY doc_id) AS copy_rank
          FROM tripled)
        WHERE copy_rank <= 2""")),

    // Image resize (nearest-neighbor 2x downscale) through the REAL BMP
    // codec — decode walk, per-channel resample, re-encode, decode
    // again: the emitted features describe the re-encoded payload, so a
    // stride/offset/orientation bug anywhere in the round trip breaks
    // the oracle. Closed forms from the fixture g(x,y) = x+y: sampled
    // pixel (x,y) of the half image is 2x+2y, whose grid mean is
    // (wo-1)+(ho-1) exactly (integer -> the one IEEE division is exact).
    // Embarrassingly parallel — per-row mapPartitions, zero shuffle.
    "q81_image_resize" -> Q(
      (s, d) => Multimodal.resizeImages(s,
        Multimodal.mediaFixtures(s, Tables.documents(s, d)).toDF(),
        factor = 2).toDF(),
      Some("""
        WITH p AS (
          SELECT doc_id, octet_length(encode(text))::BIGINT AS L
          FROM documents WHERE doc_id % 2 = 0),
        g AS (
          SELECT doc_id, (L % 31 + 2)::INT AS w, (L % 17 + 2)::INT AS h
          FROM p),
        r AS (SELECT doc_id, (w // 2)::INT AS wo, (h // 2)::INT AS ho FROM g)
        SELECT doc_id, wo AS width, ho AS height, 24 AS bpp,
               (wo - 1 + ho - 1)::DOUBLE AS mean_gray,
               (54 + ((wo * 3 + 3) // 4) * 4 * ho)::BIGINT AS n_bytes
        FROM r""")),

    // Interpolated Kneser-Ney bigram LM (fixed discount 0.75): the model
    // table a count-based LM trainer derives — one row per bigram type
    // with exact-integer count inputs and the closed-form p_kn (per-row
    // IEEE arithmetic, parenthesization mirrored between engines). One
    // (w1, w2) shuffle; context/continuation stats are vocabulary-sized
    // unhinted joins.
    "q82_bigram_lm" -> Q(
      (s, d) => NgramLm.bigramKn(Tables.documents(s, d), "doc_id", "text"),
      Some(s"""
        WITH toks AS (SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        bg AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
               FROM toks WHERE len(t) >= 2),
        c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c12)::BIGINT AS c1,
                      count(*)::BIGINT AS n_follow FROM c12 GROUP BY 1),
        np AS (SELECT w2, count(*)::BIGINT AS n_prec FROM c12 GROUP BY 1),
        b AS (SELECT count(*)::BIGINT AS n_types FROM c12)
        SELECT w1, w2, c12, c1, n_follow, n_prec, n_types,
               greatest(c12 - 0.75, 0.0) / c1 +
                 ((0.75 * n_follow) / c1) * (n_prec / n_types::DOUBLE) AS p_kn
        FROM c12 JOIN c1 USING (w1) JOIN np USING (w2) CROSS JOIN b""")),

    // Mergeable HLL-style cardinality sketch over the token stream:
    // md5-family registers so the register TABLE is oracle-exact (no
    // engine-private HLL hash). bitlen via length(bin(x)) — integer-
    // exact, no fp log at power-of-two boundaries. One codegen scan +
    // one 64-group aggregate.
    "q83_cardinality_sketch" -> Q(
      (s, d) => Sketch.registers(Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok")), "tok", m = 64),
      Some(s"""
        WITH h AS (
          SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
          FROM (SELECT unnest($DUCK_TOKENS) AS tok FROM documents)),
        rr AS (SELECT h % 64 AS bucket, h // 64 AS rest FROM h)
        SELECT bucket,
               max(CASE WHEN rest = 0 THEN 55
                        ELSE 55 - length(bin(rest)) END)::INT AS r
        FROM rr GROUP BY 1""")),

    // Adjacent-pair PMI (collocation mining): pairs over-represented vs
    // their slot marginals. Exact-integer inputs, ln per row micro-
    // snapped; min-count 3 prunes the unreliable hapax tail before the
    // marginal joins. Double-first multiplies — c12*T overflows LONG at
    // corpus scale.
    "q84_word_pmi" -> Q(
      (s, d) => NgramLm.pmi(Tables.documents(s, d), "doc_id", "text",
        minCount = 3L),
      Some(s"""
        WITH toks AS (SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        bg AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
               FROM toks WHERE len(t) >= 2),
        c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2),
        cl AS (SELECT w1, sum(c12)::BIGINT AS c_left FROM c12 GROUP BY 1),
        cr AS (SELECT w2, sum(c12)::BIGINT AS c_right FROM c12 GROUP BY 1),
        t AS (SELECT sum(c12)::BIGINT AS n_pairs FROM c12)
        SELECT w1, w2, c12, c_left, c_right, n_pairs, pmi_micro,
               pmi_micro::DOUBLE / 1e6 AS pmi
        FROM (
          SELECT w1, w2, c12, c_left, c_right, n_pairs,
                 floor(ln((c12::DOUBLE * n_pairs::DOUBLE) /
                          (c_left::DOUBLE * c_right::DOUBLE)) * 1e6
                       + 0.5)::BIGINT AS pmi_micro
          FROM c12 JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN t
          WHERE c12 >= 3)""")),

    // LEAKAGE-SAFE train/val/test split: the q47 hash split keyed by the
    // near-dup CLUSTER representative instead of the doc id, so every
    // member of a near-dup family lands in the SAME split — the guard
    // against train/eval contamination via duplicates that a naive
    // per-doc split cannot give. Docs in no cluster key by themselves;
    // same "split|" seed as q47 so singletons land exactly where q47
    // puts them.
    "q87_leakage_safe_split" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = NearDup.minhashLshPairsFromRows(
          TextOps.wordShingleRows(docs, "doc_id", "text", 3), k = 16, bands = 8)
        val clusters = NearDup.dedupClusters(pairs, "id_a", "id_b")
        val keyed = docs.select(col("doc_id"))
          .join(clusters, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("keeper_id"), col("doc_id")).as("split_key"))
        val bucket = (TextOps.hashPrefix("split|", col("split_key")) % 10).cast("int")
        keyed.withColumn("split",
          when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
      },
      Some(s"""
        WITH RECURSIVE ${minhashCtes(16, 8)}, ${closureCtes("cand")},
        clus AS (SELECT node AS doc_id, min(root) AS keeper_id
                 FROM reach GROUP BY node),
        keyed AS (SELECT d.doc_id, coalesce(c.keeper_id, d.doc_id) AS split_key
                  FROM documents d LEFT JOIN clus c USING (doc_id))
        SELECT doc_id, split_key, CASE
          WHEN ('0x' || substr(md5('split|' || split_key), 1, 8))::BIGINT % 10 < 8 THEN 'train'
          WHEN ('0x' || substr(md5('split|' || split_key), 1, 8))::BIGINT % 10 = 8 THEN 'val'
          ELSE 'test' END AS split
        FROM keyed""")),

    // Per-language EXACT quality median (percentile_disc 0.5) via the
    // grouped bounded-histogram walk — q78's machinery grouped; the
    // oracle phrases it as a per-group sort window the engine never
    // runs. The gate a "threshold at the observed median" policy needs.
    "q88_grouped_median" -> Q(
      (s, d) => Terms.groupedMedian(Tables.documents(s, d), "lang",
        TextOps.qualityScore(col("text"))),
      Some(s"""
        WITH sc AS (
          SELECT lang AS grp,
                 floor(($qualitySql) * 1e6 + 0.5)::BIGINT AS qm
          FROM documents),
        r AS (SELECT grp, qm,
                     row_number() OVER (PARTITION BY grp ORDER BY qm) AS rn,
                     count(*) OVER (PARTITION BY grp) AS n
              FROM sc)
        SELECT grp, n AS n_docs, qm AS median_micro, qm::DOUBLE / 1e6 AS median
        FROM r WHERE rn = (n + 1) // 2""")),

    // Gopher/MassiveText rule battery (Rae et al. 2021, public): per-doc
    // counts + one 0/1 flag per rule + the conjunction, ALL integer
    // arithmetic (cross-multiplied rationals, no doubles) — hash-exact by
    // construction. The corpus populates both sides of the word-count and
    // stop-word gates (277/500 and 388/500 pass at sf0.01), so the
    // thresholds are oracle-exercised, not vacuous.
    "q89_gopher_rules" -> Q(
      (s, d) => TextOps.gopherStats(Tables.documents(s, d), "doc_id", "text"),
      Some(s"""
        WITH base AS (
          SELECT doc_id, text, $DUCK_TOKENS AS tk,
                 list_filter(str_split(lower(text), ' '), x -> x <> '') AS tkl
          FROM documents),
        agg AS (
          SELECT doc_id,
                 len(tk)::BIGINT AS n_words,
                 len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS n_alpha,
                 length(replace(text, ' ', ''))::BIGINT AS sum_chars,
                 ((length(text) - length(replace(text, '#', ''))) +
                  (length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS n_symbols,
                 (length(text) - length(replace(text, chr(10), '')) + 1)::BIGINT AS n_lines,
                 len(regexp_extract_all(text, '(?m)^[ \\t]*[-*\u2022]'))::BIGINT AS n_bullet_lines,
                 len(regexp_extract_all(text, '(?m)\\.\\.\\.$$'))::BIGINT AS n_ellipsis_lines,
                 len(list_filter(['the','a','of','and','is'],
                                 m -> list_contains(tkl, m)))::BIGINT AS n_stop
          FROM base WHERE len(tk) > 0)
        SELECT doc_id, n_words, n_alpha, sum_chars, n_symbols, n_lines,
               n_bullet_lines, n_ellipsis_lines, n_stop,
               (n_words BETWEEN 50 AND 100000)::INT AS f_word_count,
               (3*n_words <= sum_chars AND sum_chars <= 10*n_words)::INT AS f_mean_word_len,
               (10*n_symbols <= n_words)::INT AS f_symbol_ratio,
               (10*n_bullet_lines <= 9*n_lines)::INT AS f_bullet_lines,
               (10*n_ellipsis_lines <= 3*n_lines)::INT AS f_ellipsis_lines,
               (5*n_alpha >= 4*n_words)::INT AS f_alpha_words,
               (n_stop >= 2)::INT AS f_stop_words,
               ((n_words BETWEEN 50 AND 100000)
                AND 3*n_words <= sum_chars AND sum_chars <= 10*n_words
                AND 10*n_symbols <= n_words
                AND 10*n_bullet_lines <= 9*n_lines
                AND 10*n_ellipsis_lines <= 3*n_lines
                AND 5*n_alpha >= 4*n_words
                AND n_stop >= 2)::INT AS pass
        FROM agg""")),

    // CCNet-style per-language perplexity buckets: each doc labeled
    // head/tail by its language's EXACT surprisal median — q66's scoring
    // composed with q88's grouped median, the "keep the predictable
    // half per language" curation policy. The snap divides the bounded
    // mean by 64 (> ln T for any feasible corpus) to meet groupedMedian's
    // [0,1] contract; mean_surprisal itself is hash-proven bit-identical
    // in q66, so gating on its snap is engine-exact.
    "q90_surprisal_buckets" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sur = Retrieval.unigramSurprisal(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        val med = Terms.groupedMedian(sur, "lang", col("mean_surprisal") / lit(64.0))
          .select(col("grp").as("lang"), col("median_micro"))
        sur
          .withColumn("qm",
            floor(col("mean_surprisal") / lit(64.0) * lit(1e6) + lit(0.5)).cast("long"))
          .join(broadcast(med), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("qm"),
            when(col("qm") <= col("median_micro"), lit("head"))
              .otherwise(lit("tail")).as("bucket"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, unnest($DUCK_TOKENS) AS term FROM documents),
        counts AS (SELECT term, count(*)::BIGINT AS c FROM toks GROUP BY 1),
        total AS (SELECT sum(c)::BIGINT AS t FROM counts),
        perdoc AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 sum(floor((ln(t.t::DOUBLE) - ln(c.c::DOUBLE)) * 1e6 + 0.5))::BIGINT
                   AS surprisal_micro
          FROM toks JOIN counts c USING (term), total t
          GROUP BY 1),
        sur AS (
          SELECT p.doc_id, d.lang,
                 floor((p.surprisal_micro / (p.n_tokens::DOUBLE * 1e6))
                       / 64.0 * 1e6 + 0.5)::BIGINT AS qm
          FROM perdoc p JOIN documents d USING (doc_id)),
        med AS (
          SELECT lang, qm AS median_micro FROM (
            SELECT lang, qm,
                   row_number() OVER (PARTITION BY lang ORDER BY qm) AS rn,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM sur)
          WHERE rn = (n + 1) // 2)
        SELECT s.doc_id, s.lang, s.qm,
               CASE WHEN s.qm <= m.median_micro THEN 'head' ELSE 'tail' END AS bucket
        FROM sur s JOIN med m USING (lang)""")),

    // BPE tokenizer training, round-1 statistic: the top-20 adjacent
    // character-pair candidates over the word-frequency table (weighted,
    // overlaps counted — the standard Sennrich statistic) with the
    // deterministic (count desc, pair asc) training order. The iterative
    // trainBpe loop itself is pinned against an independent in-memory
    // reference in BpeSpec (merges AND final segmentation, incl. the
    // greedy l==r overlap case); this query makes the distributed
    // pair-count/rank machinery oracle-checked.
    "q91_bpe_pair_counts" -> Q(
      (s, d) => graft.text.Bpe.topPairs(
        graft.text.Bpe.initWords(Tables.documents(s, d), "text"), 20),
      Some(s"""
        WITH words AS (
          SELECT tk AS word, count(*)::BIGINT AS wc
          FROM (SELECT unnest($DUCK_TOKENS) AS tk FROM documents)
          GROUP BY 1),
        chars AS (
          SELECT wc, str_split(word, '') AS cs
          FROM words WHERE length(word) >= 2),
        pairs AS (
          SELECT cs[i] AS sym_l, cs[i + 1] AS sym_r,
                 sum(wc)::BIGINT AS pair_count
          FROM chars, unnest(range(1, len(cs))) AS u(i)
          GROUP BY 1, 2)
        SELECT rank, sym_l, sym_r, pair_count FROM (
          SELECT *, row_number() OVER (ORDER BY pair_count DESC, sym_l, sym_r)
                     AS rank
          FROM pairs)
        WHERE rank <= 20""")),

    // Per-language EXACT p90 of document length (tokens), the data-card
    // tail statistic a curation pass sets truncation budgets from —
    // groupedMedian generalized to a RATIONAL quantile so the rank is
    // integer-exact (ceil(9n/10) = (9n+9)//10 in both engines). Length
    // normalized by the 100k Gopher cap to meet the bounded-score
    // contract; the snap sequence is mirrored operand for operand.
    "q92_grouped_p90_length" -> Q(
      (s, d) => Terms.groupedQuantile(Tables.documents(s, d), "lang",
        TextOps.tokenCountFast(s, col("text")).cast("double") / lit(100000.0),
        9L, 10L),
      Some(s"""
        WITH sc AS (
          SELECT lang AS grp,
                 floor((len($DUCK_TOKENS)::DOUBLE / 100000.0) * 1e6 + 0.5)::BIGINT AS qm
          FROM documents),
        r AS (SELECT grp, qm,
                     row_number() OVER (PARTITION BY grp ORDER BY qm) AS rn,
                     count(*) OVER (PARTITION BY grp) AS n
              FROM sc)
        SELECT grp, n AS n_docs, qm AS quantile_micro, qm::DOUBLE / 1e6 AS quantile
        FROM r WHERE rn = (n * 9 + 9) // 10""")),

    // Corpus snapshot diff — the data-versioning primitive: two
    // synthetic corpus versions derived from the same table (old drops
    // doc_id % 5 = 0; new drops % 7 = 0 and edits % 11 = 0), every
    // status class populated at the gate SF (added, removed, changed,
    // unchanged). Content-hash comparison: the full-outer join ships 32
    // hash bytes per side, never documents.
    "q93_corpus_diff" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val oldSnap = docs.filter(col("doc_id") % 5 =!= 0)
        val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
          .withColumn("text", when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        TextOps.corpusDiff(oldSnap, newSnap, "doc_id", "text")
      },
      Some("""
        WITH o AS (
          SELECT doc_id, md5(text) AS oh FROM documents WHERE doc_id % 5 <> 0),
        n AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS nh
          FROM documents WHERE doc_id % 7 <> 0)
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.oh IS NULL THEN 'added'
                    WHEN n.nh IS NULL THEN 'removed'
                    WHEN o.oh <> n.nh THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL JOIN n ON o.doc_id = n.doc_id""")),

    // Vocabulary coverage curve — corpus tokens covered by the top-N
    // terms at each tokenizer budget, exact integers (the stat a vocab
    // size is chosen from). The oracle phrases the cumulative sum as a
    // rank window the engine never runs (driver cumsum over the bounded
    // TakeOrdered top-max(budget) instead).
    "q94_vocab_coverage" -> Q(
      (s, d) => Terms.vocabCoverage(Tables.documents(s, d), "doc_id", "text",
        Seq(10, 50, 100, 500, 1000)),
      Some(s"""
        WITH counts AS (
          SELECT term, count(*)::BIGINT AS c
          FROM (SELECT unnest($DUCK_TOKENS) AS term FROM documents)
          GROUP BY 1),
        ranked AS (
          SELECT c, row_number() OVER (ORDER BY c DESC, term ASC) AS rn
          FROM counts),
        total AS (SELECT sum(c)::BIGINT AS t FROM counts)
        SELECT b.budget::BIGINT AS budget,
               coalesce((SELECT sum(c) FROM ranked WHERE rn <= b.budget), 0)::BIGINT
                 AS covered_tokens,
               t.t AS total_tokens
        FROM (VALUES (10), (50), (100), (500), (1000)) AS b(budget), total t""")),

    // Duplicated-span trimming (Lee et al. exact-substring dedup,
    // n-gram-relaxed): positions whose 8-gram repeats corpus-wide, merged
    // into maximal runs >= 24 tokens (a threshold the sf0.01 corpus
    // populates on BOTH sides — spans of 23 and 24 exist, so the
    // boundary is oracle-exercised) — the ranges a curation pass CUTS
    // rather than dropping documents whole. Three hash-partitioned
    // passes; gaps-and-islands per doc; no suffix array, nothing
    // quadratic.
    "q85_dup_spans" -> Q(
      (s, d) => NearDup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text",
        n = 8, minOccurrences = 2L, minSpanTokens = 24L),
      Some(s"WITH ${dupSpanCtes(8, 2, 24)} " +
        "SELECT doc_id, span_start, span_end, span_tokens FROM spans")),

    // Apply the q85 trim: documents reconstructed with duplicated runs
    // cut out — keep the unique remainder, don't drop the doc. The
    // exclusion join is doc_id-equi with the range test residual; the
    // rebuild is a per-doc ordered collect bounded by document length.
    "q86_trimmed_corpus" -> Q(
      (s, d) => NearDup.trimSpans(Tables.documents(s, d), "doc_id", "text",
        n = 8, minOccurrences = 2L, minSpanTokens = 24L),
      Some(s"""
        WITH ${dupSpanCtes(8, 2, 24)},
        tokpos AS (
          SELECT doc_id, i::BIGINT - 1 AS pos, t[i] AS tok
          FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
        kept AS (
          SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
          WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = tp.doc_id
              AND tp.pos BETWEEN s.span_start AND s.span_end))
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_trimmed,
               count(*)::BIGINT AS n_tokens_kept
        FROM kept GROUP BY doc_id""")),

    // Quality-aware dedup keeper: q42's near-dup clusters, but the family
    // representative is the HIGHEST-quality member (ties → min doc_id)
    // instead of the arbitrary min id — dedup that never throws away the
    // best-written copy of a duplicated family.
    "q95_quality_keeper" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = NearDup.minhashLshPairsFromRows(
          TextOps.wordShingleRows(docs, "doc_id", "text", 3), k = 16, bands = 8)
        val clusters = NearDup.dedupClusters(pairs, "id_a", "id_b")
        val scores = docs.select(col("doc_id"),
          TextOps.qualityScore(col("text")).as("q"))
        NearDup.scoredKeepers(clusters, scores, "q")
      },
      Some(s"""
        WITH RECURSIVE ${minhashCtes(16, 8)}, ${closureCtes("cand")},
        clus AS (SELECT node AS doc_id, min(root) AS cluster_id
                 FROM reach GROUP BY node),
        scored AS (SELECT c.doc_id, c.cluster_id, ($qualitySql) AS q
                   FROM clus c JOIN documents d USING (doc_id))
        SELECT doc_id, cluster_id,
               first_value(doc_id) OVER
                 (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS keeper_id
        FROM scored""")),

    // Token-budget mixture accounting: per language, tokens on hand vs
    // the share a target mixture allocates out of a 1M-token budget, the
    // implied sampling rate, and a deficit flag — the planning table a
    // data-mixture decision reads. All-integer outputs (micro shares).
    "q96_token_budget" -> Q(
      (s, d) => Terms.tokenBudget(Tables.documents(s, d), "text", "lang",
        Map("en" -> 400000L, "zh" -> 250000L, "es" -> 150000L,
            "de" -> 100000L, "fr" -> 100000L),
        budget = 1000000L),
      Some(s"""
        WITH per AS (
          SELECT lang AS grp, count(*)::BIGINT AS n_docs,
                 coalesce(sum(len($DUCK_TOKENS)), 0)::BIGINT AS tokens
          FROM documents GROUP BY 1),
        tgt(grp, tm) AS (VALUES ('en', 400000), ('zh', 250000),
                                ('es', 150000), ('de', 100000), ('fr', 100000)),
        tot AS (SELECT sum(tokens)::BIGINT AS t FROM per),
        base AS (
          SELECT p.grp, p.n_docs, p.tokens,
                 coalesce(g.tm, 0)::BIGINT AS target_micro,
                 floor((1000000::BIGINT * coalesce(g.tm, 0)::BIGINT
                        + 500000)::DOUBLE / 1000000.0)::BIGINT AS alloc_tokens,
                 t.t AS total
          FROM per p LEFT JOIN tgt g USING (grp), tot t)
        SELECT grp, n_docs, tokens,
               floor(tokens::DOUBLE * 1e6 / total::DOUBLE + 0.5)::BIGINT AS share_micro,
               target_micro, alloc_tokens,
               floor(alloc_tokens::DOUBLE * 1e6
                     / greatest(tokens, 1)::DOUBLE + 0.5)::BIGINT AS rate_micro,
               (alloc_tokens > tokens)::INT AS deficit
        FROM base""")),

    // Windowed skipgram PMI (±3, unordered): co-occurrence association
    // that sees past adjacency — q84 only scores directed bigrams. Slot
    // model: p(w) = c_w/(2N), p(a,b) = c12/N ⇒ pmi = ln(4·c12·N/(c_a·c_b)).
    "q97_skipgram_pmi" -> Q(
      (s, d) => NgramLm.skipgramPmi(Tables.documents(s, d), "doc_id", "text",
        window = 3, minCount = 5L),
      Some(s"""
        WITH toks AS (SELECT $DUCK_TOKENS AS t FROM documents),
        pr AS (
          SELECT least(a, b) AS w1, greatest(a, b) AS w2 FROM (
            SELECT unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b
            FROM toks WHERE len(t) >= 2
            UNION ALL
            SELECT unnest(t[1:len(t)-2]), unnest(t[3:len(t)])
            FROM toks WHERE len(t) >= 3
            UNION ALL
            SELECT unnest(t[1:len(t)-3]), unnest(t[4:len(t)])
            FROM toks WHERE len(t) >= 4)),
        c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pr GROUP BY 1, 2),
        cw AS (SELECT w, sum(c)::BIGINT AS cw FROM (
                 SELECT w1 AS w, c12 AS c FROM c12
                 UNION ALL SELECT w2, c12 FROM c12) GROUP BY 1),
        t AS (SELECT sum(c12)::BIGINT AS n_pairs FROM c12)
        SELECT w1, w2, c12, c_a, c_b, n_pairs, pmi_micro,
               pmi_micro::DOUBLE / 1e6 AS pmi
        FROM (
          SELECT c.w1, c.w2, c.c12, ca.cw AS c_a, cb.cw AS c_b, t.n_pairs,
                 floor(ln((4.0::DOUBLE * c.c12::DOUBLE * t.n_pairs::DOUBLE) /
                          (ca.cw::DOUBLE * cb.cw::DOUBLE)) * 1e6 + 0.5)::BIGINT
                   AS pmi_micro
          FROM c12 c JOIN cw ca ON ca.w = c.w1 JOIN cw cb ON cb.w = c.w2
          CROSS JOIN t
          WHERE c.c12 >= 5)""")),

    // Bloom-filter decontamination gate: q50's benchmark-overlap check
    // through a CONSTANT-size 2^20-bit filter (3×20-bit fields of the
    // shared 60-bit gram hash) instead of a benchmark-sized set — the
    // at-scale path when even sizedSemiJoin's shuffle hurts. The exact
    // join rides along to measure the false-positive cost; bloom hits
    // are a SUPERSET of exact hits by construction (no false negatives).
    "q98_bloom_contamination" -> Q(
      (s, d) => {
        val rows = TextOps.wordShingleRows(Tables.documents(s, d), "doc_id", "text", 8)
        val hashed = rows.select(col("id"),
          TextOps.gramHash64(s, col("g")).as("hg"))
        val bench = hashed.filter(col("id") % 20 === 0).select("hg").distinct()
        val corpus = hashed.filter(col("id") % 20 =!= 0).dropDuplicates("id", "hg")
        val mask = graft.text.Bloom.build(bench, "hg")
        corpus
          .withColumn("__bloom", graft.text.Bloom.mightContain(mask, col("hg")).cast("int"))
          .join(broadcast(bench.withColumn("__hit", lit(1))), Seq("hg"), "left")
          .groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
               sum(col("__bloom")).as("n_bloom_hits"),
               count(col("__hit")).as("n_exact_hits"))
          .withColumn("n_false_pos", col("n_bloom_hits") - col("n_exact_hits"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        grams AS (
          SELECT doc_id,
                 list_distinct([('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
                                for i in range(1, len(t) - 6)]) AS gs
          FROM toks WHERE len(t) >= 8),
        bench AS (SELECT DISTINCT unnest(gs) AS hg FROM grams WHERE doc_id % 20 = 0),
        bits AS (SELECT DISTINCT p FROM (
          SELECT (hg & 1048575) AS p FROM bench
          UNION SELECT ((hg >> 20) & 1048575) FROM bench
          UNION SELECT ((hg >> 40) & 1048575) FROM bench)),
        corpus AS (SELECT doc_id, unnest(gs) AS hg FROM grams WHERE doc_id % 20 <> 0),
        per AS (
          SELECT doc_id,
                 ((hg & 1048575) IN (SELECT p FROM bits)
                  AND ((hg >> 20) & 1048575) IN (SELECT p FROM bits)
                  AND ((hg >> 40) & 1048575) IN (SELECT p FROM bits))::INT AS bloom_hit,
                 (hg IN (SELECT hg FROM bench))::INT AS exact_hit
          FROM corpus)
        SELECT doc_id, count(*)::BIGINT AS n_grams,
               sum(bloom_hit)::BIGINT AS n_bloom_hits,
               sum(exact_hit)::BIGINT AS n_exact_hits,
               (sum(bloom_hit) - sum(exact_hit))::BIGINT AS n_false_pos
        FROM per GROUP BY doc_id""")),

    // Deterministic WEIGHTED without-replacement sample (Efraimidis–
    // Spirakis A-ES), k per language, weight = doc length: q71's uniform
    // carve generalized to the "prefer long docs" curation knob. The
    // ln(u)/w key never leaves the plan; outputs are integers.
    "q100_weighted_sample" -> Q(
      (s, d) => Terms.weightedSample(Tables.documents(s, d), "doc_id", "lang",
        "n_chars", k = 10),
      Some("""
        SELECT doc_id, grp, weight, rank FROM (
          SELECT doc_id, lang AS grp, n_chars AS weight,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY ln((('0x' || substr(md5('wres|' || doc_id), 1, 8))::BIGINT + 1)
                              / 4294967296.0) / n_chars::DOUBLE DESC,
                            doc_id) AS rank
          FROM documents)
        WHERE rank <= 10""")),

    // Dedup threshold sweep: surviving verified pairs + docs touched at
    // each candidate Jaccard cutoff — the tuning curve read before
    // committing a threshold. Thresholds forced ::DOUBLE in the oracle
    // (DuckDB would otherwise compare against DECIMAL literals).
    "q101_dedup_sweep" -> Q(
      (s, d) => NearDup.dedupSweep(
        NearDup.minhashLshPairsFromRows(
          TextOps.wordShingleRows(Tables.documents(s, d), "doc_id", "text", 3),
          k = 16, bands = 8),
        "jaccard", Seq(0.05, 0.5, 0.95, 0.98)),
      Some(s"WITH ${minhashCtes(16, 8)}," + """
        pj AS (
          SELECT c.id_a, c.id_b,
                 round(len(list_intersect(da.sh, db.sh))::DOUBLE /
                       (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))::DOUBLE),
                       4) AS jaccard
          FROM cand c
          JOIN sets da ON da.doc_id = c.id_a
          JOIN sets db ON db.doc_id = c.id_b),
        th(threshold) AS (VALUES (0.05::DOUBLE), (0.5::DOUBLE),
                                 (0.95::DOUBLE), (0.98::DOUBLE)),
        f AS (SELECT t.threshold, p.id_a, p.id_b
              FROM pj p JOIN th t ON p.jaccard >= t.threshold),
        np AS (SELECT threshold, count(*)::BIGINT AS n_pairs FROM f GROUP BY 1),
        nd AS (SELECT threshold, count(DISTINCT id)::BIGINT AS n_docs_covered
               FROM (SELECT threshold, id_a AS id FROM f
                     UNION ALL SELECT threshold, id_b FROM f) GROUP BY 1)
        SELECT t.threshold,
               coalesce(np.n_pairs, 0)::BIGINT AS n_pairs,
               coalesce(nd.n_docs_covered, 0)::BIGINT AS n_docs_covered
        FROM th t LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)""")),

    // Corpus NOVELTY per document: the fraction of a doc's distinct
    // 8-grams never seen in any EARLIER doc (id order = arrival order) —
    // the redundancy-growth curve a curriculum/collection decision reads
    // ("new data is adding less and less"). One gram-universe shuffle
    // for first-seen, one join back, per-doc integer outputs.
    "q102_novelty" -> Q(
      (s, d) => {
        // Shape notes (r08 A/B, negative results worth keeping): this
        // rows-form + dropDuplicates + groupBy/join-back is the FAST
        // form. (a) Building per-doc distinct grams per row with the
        // array HOFs (withWordShingles + explode) to skip the dedup
        // shuffle measured 26× SLOWER — transform/filter lambdas
        // evaluate interpreted, outside whole-stage codegen, and 14M
        // interpreted gram builds dwarf any exchange they avoid.
        // (b) Replacing groupBy+join-back with a window-min over hg
        // measured 13× slower — near-unique 8-gram partitions make
        // WindowExec's per-group machinery the bottleneck. The zip-slice
        // rows build stays in codegen end to end, and the two gram-width
        // hg exchanges (agg + join probe) are canonically equal subtrees
        // that AQE exchange reuse dedupes.
        val grams = TextOps.wordShingleRows(Tables.documents(s, d), "doc_id", "text", 8)
          .select(col("id"), TextOps.gramHash64(s, col("g")).as("hg"))
          .dropDuplicates("id", "hg")
        val first = grams.groupBy("hg").agg(min(col("id")).as("first_id"))
        grams.join(first, Seq("hg"))
          .groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
               sum((col("first_id") < col("id")).cast("long")).as("n_repeated"))
          .withColumn("novelty_micro",
            floor((col("n_grams") - col("n_repeated")).cast("double") * lit(1e6) /
              col("n_grams").cast("double") + lit(0.5)).cast("long"))
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, $DUCK_TOKENS AS t FROM documents),
        grams AS (
          SELECT doc_id,
                 unnest(list_distinct([('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
                                       for i in range(1, len(t) - 6)])) AS hg
          FROM toks WHERE len(t) >= 8),
        first AS (SELECT hg, min(doc_id) AS first_id FROM grams GROUP BY 1)
        SELECT doc_id, count(*)::BIGINT AS n_grams,
               sum((first_id < doc_id)::BIGINT)::BIGINT AS n_repeated,
               floor((count(*) - sum((first_id < doc_id)::BIGINT))::DOUBLE * 1e6
                     / count(*)::DOUBLE + 0.5)::BIGINT AS novelty_micro
        FROM grams JOIN first USING (hg)
        GROUP BY doc_id""")),

    // Cross-SOURCE duplication matrix: verified near-dup pairs (J >= 0.9)
    // bucketed by the (unordered) source pair — the provenance question
    // behind a dedup finding ("which feeds duplicate each other"). Rides
    // the q35 candidates; two broadcast-friendly dimension joins.
    "q103_source_overlap" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val src = docs.select(col("doc_id"), col("source"))
        NearDup.minhashLshPairsFromRows(
            TextOps.wordShingleRows(docs, "doc_id", "text", 3), k = 16, bands = 8)
          .filter(col("jaccard") >= 0.9)
          .join(src.withColumnsRenamed(Map("doc_id" -> "id_a", "source" -> "sa")), Seq("id_a"))
          .join(src.withColumnsRenamed(Map("doc_id" -> "id_b", "source" -> "sb")), Seq("id_b"))
          .groupBy(least(col("sa"), col("sb")).as("source_a"),
                   greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some(s"WITH ${minhashCtes(16, 8)}," + """
        pj AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sets da ON da.doc_id = c.id_a
          JOIN sets db ON db.doc_id = c.id_b
          WHERE round(len(list_intersect(da.sh, db.sh))::DOUBLE /
                      (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))::DOUBLE),
                      4) >= 0.9)
        SELECT least(x.source, y.source) AS source_a,
               greatest(x.source, y.source) AS source_b,
               count(*)::BIGINT AS n_pairs
        FROM pj
        JOIN documents x ON x.doc_id = pj.id_a
        JOIN documents y ON y.doc_id = pj.id_b
        GROUP BY 1, 2""")),

    // Asymmetric CONTAINMENT over the q35 LSH candidates: |A∩B|/|A| and
    // |A∩B|/|B| — the near-SUBSET signal (doc pasted inside a larger
    // one) that symmetric Jaccard structurally misses.
    "q99_containment_pairs" -> Q(
      (s, d) => NearDup.minhashLshContainmentFromRows(
        TextOps.wordShingleRows(Tables.documents(s, d), "doc_id", "text", 3),
        k = 16, bands = 8),
      Some(s"WITH ${minhashCtes(16, 8)}" + """
        SELECT c.id_a, c.id_b,
               round(len(list_intersect(da.sh, db.sh))::DOUBLE
                     / len(da.sh)::DOUBLE, 4) AS containment_a,
               round(len(list_intersect(da.sh, db.sh))::DOUBLE
                     / len(db.sh)::DOUBLE, 4) AS containment_b
        FROM cand c
        JOIN sets da ON da.doc_id = c.id_a
        JOIN sets db ON db.doc_id = c.id_b""")),

    // WATER-FILLING budget allocation: solve the cap c with
    // Σ min(tokens_source, c) = budget in one windowed pass over the
    // source-bounded dimension — tokenBudget's complement when no
    // per-group targets exist (Terms.waterfillBudget scaladoc has the
    // segment derivation). 20k binds against this corpus at every SF.
    "q119_waterfill" -> Q(
      (s, d) => Terms.waterfillBudget(Tables.documents(s, d), "text", "source",
        budget = 20000L),
      Some(s"""
        WITH per AS (
          SELECT source, count(*)::BIGINT AS n_docs,
                 coalesce(sum(len($DUCK_TOKENS)), 0)::BIGINT AS tokens
          FROM documents GROUP BY 1),
        ord AS (
          SELECT *, row_number() OVER (ORDER BY tokens, source) AS i,
                 sum(tokens) OVER (ORDER BY tokens, source
                                   ROWS UNBOUNDED PRECEDING) AS p,
                 count(*) OVER () AS n, sum(tokens) OVER () AS g
          FROM per),
        seg AS (
          SELECT *, min(CASE WHEN p + (n - i) * tokens >= 20000
                             THEN i END) OVER () AS i0
          FROM ord),
        capd AS (
          SELECT *, max(CASE WHEN i = i0 THEN
                   (20000 - (p - tokens))::DOUBLE / (n - i + 1)::DOUBLE
                 END) OVER () AS cap
          FROM seg)
        SELECT source, n_docs, tokens,
               CASE WHEN g <= 20000 THEN (-1)::BIGINT
                    ELSE floor(cap * 1e6 + 0.5)::BIGINT END AS cap_micro,
               CASE WHEN g <= 20000 THEN tokens * 1000000
                    ELSE floor(least(tokens::DOUBLE, cap) * 1e6 + 0.5)::BIGINT
               END AS alloc_micro
        FROM capd""")),

    // Hard-negative mining: per query, top-3 highest-cosine vectors with
    // a DIFFERENT label (Similarity.hardNegatives scaladoc has the scale
    // path — the label test composes into IVF probe candidates).
    "q120_hard_negatives" -> Q(
      (s, d) => Similarity.hardNegatives(Tables.embeddings(s, d),
        "vec_id", "embedding", "label",
        queryPred = col("vec_id") % 10 === 0, k = 3),
      Some("""
        WITH e AS (SELECT vec_id, label,
                          list_transform(embedding, x -> x::DOUBLE) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, label AS qlbl, v AS qv
              FROM e WHERE vec_id % 10 = 0),
        s AS (SELECT q.query_id, e.vec_id, e.label AS neg_label,
                     round(list_dot_product(qv, v) /
                           (sqrt(list_dot_product(qv, qv)) *
                            sqrt(list_dot_product(v, v))), 6) AS cosine
              FROM q JOIN e ON e.label <> q.qlbl)
        SELECT query_id, vec_id, neg_label, cosine, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, vec_id) AS rank
              FROM s)
        WHERE rank <= 3""")),

    // Shard stitching: reconstruct split-document adjacency purely from
    // content (TextOps.stitchPairs — one boundary-key equi-join, with
    // the hot-boilerplate-key cap noted in the scaladoc). The synthetic
    // corpus has no split documents, so the input FABRICATES them
    // deterministically (the q80 vacuous-pass doctrine): every doc with
    // ≥ 160 chars splits into three 80-char shards at stride 40, and the
    // operator must recover each chain 1→2→3 from the 40-char overlaps
    // alone.
    "q121_shard_stitch" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .filter(col("n_chars") >= 160).select(col("doc_id"), col("text"))
        val shards = docs.select((col("doc_id") * 10 + 1).as("shard_id"),
            substring(col("text"), 1, 80).as("stext"))
          .union(docs.select((col("doc_id") * 10 + 2).as("shard_id"),
            substring(col("text"), 41, 80).as("stext")))
          .union(docs.select((col("doc_id") * 10 + 3).as("shard_id"),
            substring(col("text"), 81, 80).as("stext")))
        TextOps.stitchPairs(shards, "shard_id", "stext", k = 40)
          .select(col("id_a"), col("id_b"), col("boundary"))
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, text FROM documents WHERE n_chars >= 160),
        shards AS (
          SELECT doc_id * 10 + 1 AS shard_id, substr(text, 1, 80) AS stext
          FROM docs
          UNION ALL
          SELECT doc_id * 10 + 2, substr(text, 41, 80) FROM docs
          UNION ALL
          SELECT doc_id * 10 + 3, substr(text, 81, 80) FROM docs),
        keyed AS (
          SELECT shard_id,
                 substr(stext, length(stext) - 39, 40) AS tail_key,
                 substr(stext, 1, 40) AS head_key
          FROM shards WHERE length(stext) >= 40)
        SELECT a.shard_id AS id_a, b.shard_id AS id_b,
               md5(a.tail_key) AS boundary
        FROM keyed a JOIN keyed b ON a.tail_key = b.head_key
        WHERE a.shard_id <> b.shard_id""")),

    // Deterministic seeded corpus shuffle into 16 balanced shards
    // (Terms.corpusShuffle — hash-spread shard assignment, per-shard
    // rank; no global sort). Same seed ⇒ same (shard, pos) on any
    // engine, input partitioning or rerun.
    "q122_corpus_shuffle" -> Q(
      (s, d) => Terms.corpusShuffle(Tables.documents(s, d), "doc_id",
        seed = "shuf42", nShards = 16),
      Some("""
        WITH k AS (
          SELECT doc_id,
                 ('0x' || substr(md5('shuf42|' || doc_id), 1, 15))::BIGINT AS hk
          FROM documents)
        SELECT doc_id, hk % 16 AS shard,
               (row_number() OVER (PARTITION BY hk % 16
                                   ORDER BY hk, doc_id) - 1)::BIGINT AS pos
        FROM k""")),

    // Shuffle-then-pack: q122's seeded permutation feeding q59-style
    // fixed-token block packing — the END of a pretraining layout
    // pipeline (shuffle for training-order decorrelation, pack for
    // sequence efficiency), reproducible end to end from one seed. Per
    // shard: running token sum in permuted order → 512-token block ids.
    // One shard-keyed exchange serves the rank, the running sum and the
    // block assignment.
    "q123_shuffled_packing" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val shuffled = Terms.corpusShuffle(docs, "doc_id", "shuf42", nShards = 16)
        val toks = docs.select(col("doc_id"),
          TextOps.tokenCountFast(s, col("text")).cast("long").as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("pos"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        shuffled.join(toks, Seq("doc_id"))
          .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
          .withColumn("block", expr("start_tok div 512"))
          .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
            col("start_tok"), col("block"))
      },
      Some(s"""
        WITH k AS (
          SELECT doc_id,
                 ('0x' || substr(md5('shuf42|' || doc_id), 1, 15))::BIGINT AS hk,
                 len($DUCK_TOKENS)::BIGINT AS n_tokens
          FROM documents),
        sh AS (
          SELECT doc_id, n_tokens, hk % 16 AS shard,
                 (row_number() OVER (PARTITION BY hk % 16
                                     ORDER BY hk, doc_id) - 1)::BIGINT AS pos
          FROM k),
        packed AS (
          SELECT doc_id, shard, pos, n_tokens,
                 (sum(n_tokens) OVER (PARTITION BY shard ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING)
                  - n_tokens)::BIGINT AS start_tok
          FROM sh)
        SELECT doc_id, shard, pos, n_tokens, start_tok,
               (start_tok // 512)::BIGINT AS block
        FROM packed""")),

    // Character-level revision pairs by normalized EDIT similarity
    // (1 − lev/max-len ≥ 0.8, above this corpus's MEASURED same-block
    // noise floor of 0.2–0.45) inside (lang, source) blocks — the
    // order-sensitive complement to the shingle-set family (NearDup
    // scaladoc has the prune ladder: log-length-band join key + per-pair
    // banded early-exit LevenshteinWithin kernel). The length band in
    // the oracle carries the same rounding slack (0.20005 = 1 − t′) as
    // the engine so both sides admit grid-edge pairs identically; the
    // final rounded filter is the single semantic gate.
    "q104_edit_similar" -> Q(
      (s, d) => NearDup.editSimilarityPairs(Tables.documents(s, d),
        "doc_id", "text", Seq("lang", "source"), minSim = 0.8),
      Some(s"""
        WITH docs AS (
          SELECT doc_id, text, lang, source, length(text) AS ln
          FROM documents WHERE regexp_matches(text, '^[\\x00-\\x7f]*$$')),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 levenshtein(a.text, b.text) AS lev,
                 greatest(a.ln, b.ln) AS mx
          FROM docs a JOIN docs b
            ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
           AND abs(a.ln - b.ln) <= 0.20005 * greatest(a.ln, b.ln))
        SELECT id_a, id_b, round(1.0 - lev::DOUBLE / mx, 4) AS edit_sim
        FROM p WHERE round(1.0 - lev::DOUBLE / mx, 4) >= 0.8""")),

    // EXACT-substring decontamination: 40-char spans lifted from the
    // benchmark subset (doc_id % 20 = 0, offset 11 — past any shared
    // prefix), matched verbatim against the rest of the corpus via ONE
    // Aho–Corasick scan pass (plans/StringSearch.scala). Zero-tolerance
    // complement to gram-overlap (q50) and the Bloom gate (q98): those
    // tokenize first and structurally miss sub-token verbatim leaks.
    // The oracle is the declarative contains θ-join the kernel replaces.
    "q112_exact_decontam" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val spans = docs.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("bench_id"),
            substring(col("text"), 11, 40).as("pat"))
          .filter(length(col("pat")) === 40)
          .select("bench_id", "pat")
        TextOps.exactDecontaminate(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text", spans)
      },
      Some("""
        WITH bench AS (
          SELECT doc_id AS bench_id, substr(text, 11, 40) AS pat
          FROM documents
          WHERE doc_id % 20 = 0 AND length(substr(text, 11, 40)) = 40)
        SELECT d.doc_id, b.bench_id, position(b.pat IN d.text)::INT AS first_pos
        FROM documents d JOIN bench b
          ON d.doc_id % 20 <> 0 AND contains(d.text, b.pat)""")),

    // The same contains semantics through the PLAN-REWRITE tier
    // (plans/SubstringJoin.scala — SURVEY §7.3 preference (c): custom
    // LogicalPlan + Rule + Strategy + SparkPlan): the query is the
    // NATURAL declarative join `corpus JOIN spans ON contains(text,
    // pat)`, and the injected optimizer rule swaps Spark's only built-in
    // option (BroadcastNestedLoopJoin, one corpus rescan PER pattern)
    // for a single Aho–Corasick scan pass. Shorter 24-char spans at a
    // deeper offset than q112, so the two tiers are checked on distinct
    // result sets. The oracle IS the nested-loop semantics the rewrite
    // must preserve.
    "q115_contains_join" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val spans = docs.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("bench_id"),
            substring(col("text"), 31, 24).as("pat"))
          .filter(length(col("pat")) === 24)
        graft.plans.SubstringJoin.containsJoin(
            docs.filter(col("doc_id") % 20 =!= 0)
              .select(col("doc_id"), col("text")),
            spans, col("text"), col("pat"))
          .select(col("doc_id"), col("bench_id"))
      },
      Some("""
        WITH bench AS (
          SELECT doc_id AS bench_id, substr(text, 31, 24) AS pat
          FROM documents
          WHERE doc_id % 20 = 0 AND length(substr(text, 31, 24)) = 24)
        SELECT d.doc_id, b.bench_id
        FROM documents d JOIN bench b
          ON d.doc_id % 20 <> 0 AND contains(d.text, b.pat)""")),

    // Content-defined chunking dedup profile: rolling-window boundaries
    // (h ≡ 0 mod 32 over 8-char windows), chunk-hash duplication per
    // source — byte-identical shared REGIONS (boilerplate, quoted
    // blocks) that document-level dedup can't see. TextOps scaladoc has
    // the Rabin-swap and clamp notes for the production path.
    "q105_cdc_chunks" -> Q(
      (s, d) => TextOps.cdcChunkStats(Tables.documents(s, d),
        "text", "source", window = 8, modBits = 5),
      Some("""
        WITH d AS (SELECT source, text, length(text) AS ln FROM documents),
        b AS (SELECT source, text, ln,
                     [i FOR i IN range(8, ln + 1)
                        IF ('0x' || substr(md5(substr(text, i - 7, 8)), 1, 8))::BIGINT % 32 = 0] AS bs
              FROM d),
        s AS (SELECT source, text, ln,
                     list_prepend(1, list_transform(bs, x -> x + 1)) AS ss,
                     list_append(bs, ln) AS es
              FROM b),
        c AS (SELECT source,
                     unnest([substr(text, ss[j], es[j] - ss[j] + 1)
                             FOR j IN range(1, len(ss) + 1)]) AS chunk
              FROM s),
        f AS (SELECT source, md5(chunk) AS ch FROM c WHERE length(chunk) > 0)
        SELECT source, count(*)::BIGINT AS n_chunks,
               count(DISTINCT ch)::BIGINT AS n_distinct,
               round(1.0 - count(DISTINCT ch)::DOUBLE / count(*), 4) AS dup_ratio
        FROM f GROUP BY source""")),

    // Count-min sketch with its error MEASURED (the q98/q83 doctrine:
    // approximate structures ship with oracle-checkable state and a
    // measured error column): 3×1024 additive cells, estimates vs true
    // counts for the exact top-20 tokens, overcount ≥ 0 by construction.
    "q106_count_min" -> Q(
      (s, d) => Sketch.countMinTopK(Tables.documents(s, d), "text",
        d = 3, width = 1024, k = 20),
      Some(s"""
        WITH toks AS (
          SELECT unnest($DUCK_TOKENS) AS tok FROM documents),
        cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        top AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
        sk AS (SELECT r, ('0x' || substr(md5('cm' || r || '|' || tok), 1, 8))::BIGINT % 1024 AS bucket,
                      count(*) AS sc
               FROM toks CROSS JOIN range(3) t(r) GROUP BY 1, 2),
        est AS (SELECT top.tok, top.c, min(sk.sc) AS est
                FROM top JOIN sk
                  ON sk.bucket = ('0x' || substr(md5('cm' || sk.r || '|' || top.tok), 1, 8))::BIGINT % 1024
                GROUP BY 1, 2)
        SELECT tok AS word, c::BIGINT AS true_count, est::BIGINT AS est_count,
               (est - c)::BIGINT AS overcount FROM est""")),

    // CORPUS-LEVEL similarity matrix between sources (drift/overlap
    // monitoring): one 64-position MinHash signature PER SOURCE (min
    // over the union of its docs' 3-gram hashes — sources' signatures
    // cost one corpus scan + an S×64 aggregate) gives the estimated
    // Jaccard; the exact gram-set Jaccard rides the same hashed-gram
    // frame (distinct per source → gram-keyed self-join, ≤ S²/2 rows
    // per gram) so the estimator ships with its error measurable, the
    // q106 count-min doctrine. At 100 TB the exact term is the one to
    // drop — the signature matrix alone is S×64 longs from one pass.
    // The S²-pair signature join is dimension-bounded (a nested loop
    // over an S-row frame, S = distinct sources).
    "q124_source_similarity" -> Q(
      (s, d) => {
        val k = 64
        val P = NearDup.P
        val hashed = TextOps
          .wordShingleRows(Tables.documents(s, d), "source", "text", 3)
          .select(col("id").as("source"),
            TextOps.gramHash64(s, col("g")).as("hraw"),
            (TextOps.gramHash64Hi(s, col("g")) % P).as("h2"))
        // ONE (source, gram) aggregation feeds all four consumers
        // (signatures, set sizes, both intersection sides). Exchange
        // reuse canNOT collapse them — column pruning gives each
        // consumer a different exchange schema, so the canonical plans
        // differ and the shingle explode would run 4× (measured: 6
        // parquet scans in the first cut). The eager checkpoint is the
        // repo's hand-off doctrine (dedupClusters, topQuantileGate):
        // the distinct-gram frame materializes once and every consumer
        // reads its blocks. It is distinct-gram-sized — at 100 TB this
        // is the point where the frame becomes a persisted corpus
        // index (the CorpusBuild pattern), not a per-query checkpoint.
        // min(h2) makes the per-distinct-gram row deterministic under
        // the (astronomically rare) 60-bit hraw collision; h1 is
        // recomputable from hraw.
        val gs = hashed.groupBy("source", "hraw").agg(min(col("h2")).as("h2"))
          .withColumn("h1", col("hraw") % P)
          .localCheckpoint(true)
        val aggs = (0 until k).map(i =>
          min((col("h1") + lit(i.toLong) * col("h2")) % P).as(s"m$i"))
        val sigs = gs.groupBy("source").agg(aggs.head, aggs.tail: _*)
        val sizes = gs.groupBy("source").agg(count(lit(1)).as("ng"))
        val inter = gs.as("a").join(gs.as("b"),
            col("a.hraw") === col("b.hraw") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("ig"))
        val sigMatches = (0 until k).map(i =>
          when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L)).reduce(_ + _)
        sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
            sigMatches.as("sm"))
          .join(inter, Seq("source_a", "source_b"), "left")
          .na.fill(0L, Seq("ig"))
          .join(sizes.select(col("source").as("source_a"), col("ng").as("na")), Seq("source_a"))
          .join(sizes.select(col("source").as("source_b"), col("ng").as("nb")), Seq("source_b"))
          .select(col("source_a"), col("source_b"),
            col("na").as("n_grams_a"), col("nb").as("n_grams_b"),
            col("ig").as("inter_grams"),
            floor(col("sm").cast("double") * lit(1e6) / lit(k.toDouble) + lit(0.5))
              .cast("long").as("est_jaccard_micro"),
            floor(col("ig").cast("double") * lit(1e6) /
              (col("na") + col("nb") - col("ig")).cast("double") + lit(0.5))
              .cast("long").as("jaccard_micro"))
      },
      Some {
        val k = 64
        val P = NearDup.P
        val mins = (0 until k)
          .map(i => s"min((h1 + $i * h2) % $P) AS m$i").mkString(",\n               ")
        val matches = (0 until k)
          .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""
        WITH toks AS (SELECT source, $DUCK_TOKENS AS t FROM documents),
        grams AS (
          SELECT source, array_to_string(t[i:i+2], ' ') AS g
          FROM toks, unnest(range(1, len(t) - 1)) u(i)
          WHERE len(t) >= 3),
        hashed AS (
          SELECT source,
                 ('0x' || substr(md5(g), 1, 15))::BIGINT       AS hraw,
                 ('0x' || substr(md5(g), 17, 15))::BIGINT % $P AS h2
          FROM grams),
        gsets AS (
          SELECT source, hraw, hraw % $P AS h1, min(h2) AS h2
          FROM hashed GROUP BY 1, 2),
        sigs AS (SELECT source, $mins FROM gsets GROUP BY source),
        sizes AS (SELECT source, count(*)::BIGINT AS ng FROM gsets GROUP BY source),
        inter AS (
          SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS ig
          FROM gsets a JOIN gsets b ON a.hraw = b.hraw AND a.source < b.source
          GROUP BY 1, 2),
        pairs AS (
          SELECT a.source AS source_a, b.source AS source_b, ($matches)::BIGINT AS sm
          FROM sigs a JOIN sigs b ON a.source < b.source)
        SELECT p.source_a, p.source_b,
               sa.ng AS n_grams_a, sb.ng AS n_grams_b,
               coalesce(i.ig, 0)::BIGINT AS inter_grams,
               floor(p.sm::DOUBLE * 1e6 / $k + 0.5)::BIGINT AS est_jaccard_micro,
               floor(coalesce(i.ig, 0)::DOUBLE * 1e6
                     / (sa.ng + sb.ng - coalesce(i.ig, 0))::DOUBLE + 0.5)::BIGINT AS jaccard_micro
        FROM pairs p
        LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b
        JOIN sizes sa ON sa.source = p.source_a
        JOIN sizes sb ON sb.source = p.source_b"""
      }),

    // ORDER-INSENSITIVE exact dedup: the bag-of-words fingerprint (md5
    // of the SORTED token multiset) catches template reorderings and
    // shuffled boilerplate that byte-exact dedup (q32) misses while
    // costing the same single hash-keyed shuffle — no pairwise term,
    // no LSH. Emits the full keep/drop mapping (the q42 cluster-output
    // convention: every doc with its family keeper — singletons keep
    // themselves), so the result is non-vacuous at every SF; TextSpec
    // pins the reorder-catching property the synthetic corpus lacks.
    // Sorting happens PER ROW inside codegen (array_sort), so the
    // shuffle carries 32-byte digests, never token arrays.
    "q125_bag_dedup" -> Q(
      (s, d) => {
        val bagged = Tables.documents(s, d).select(col("doc_id"),
          md5(concat_ws(" ", array_sort(TextOps.tokens(col("text"))))).as("bag"))
        val fam = bagged.groupBy("bag").agg(
          count(lit(1)).as("family_size"), min(col("doc_id")).as("keeper_id"))
        bagged.join(fam, Seq("bag"))
          .select(col("doc_id"), col("keeper_id"), col("family_size"),
            (col("doc_id") === col("keeper_id")).cast("int").as("is_keeper"))
      },
      Some(s"""
        WITH bagged AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort($DUCK_TOKENS), ' ')) AS bag
          FROM documents),
        fam AS (
          SELECT bag, count(*)::BIGINT AS family_size,
                 min(doc_id) AS keeper_id
          FROM bagged GROUP BY bag)
        SELECT b.doc_id, f.keeper_id, f.family_size,
               (b.doc_id = f.keeper_id)::INT AS is_keeper
        FROM bagged b JOIN fam f USING (bag)""")),

    // Per-label embedding DRIFT statistics (corpus monitoring for
    // embedding pipelines): micro-snapped centroid per label, mean
    // vector norm, and mean cosine-to-centroid (spread). Numerics
    // doctrine: components snap to micro ints (xm), the centroid
    // component is the half-up integer mean (mm), and every cross-row
    // sum is a sum of exact LONGS (xm·mm ≤ 1e12, ×dims ≪ 2^63) — so
    // aggregation order can never flip a bit and both engines divide
    // the same integers. The per-(label,pos) centroid frame is
    // label×dims-sized → broadcast back; the only corpus-sized
    // shuffles are the two keyed aggregations.
    "q126_embedding_drift" -> Q(
      (s, d) => {
        val ex = Tables.embeddings(s, d)
          .select(col("label"), col("vec_id"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .withColumn("xm",
            floor(col("x").cast("double") * lit(1e6) + lit(0.5)).cast("long"))
        val comp = ex.groupBy("label", "pos").agg(
          sum(col("xm")).as("smm"), count(lit(1)).as("n"))
          .withColumn("mm",
            floor(col("smm").cast("double") / col("n").cast("double") + lit(0.5))
              .cast("long"))
        val per = ex.join(broadcast(comp.select("label", "pos", "mm")), Seq("label", "pos"))
          .groupBy("label", "vec_id")
          .agg(sum(col("xm") * col("mm")).as("dt"),
            sum(col("xm") * col("xm")).as("a"))
        val bl = comp.groupBy("label").agg(sum(col("mm") * col("mm")).as("b"))
        per.join(broadcast(bl), Seq("label"))
          .withColumn("cos_micro",
            when(col("a") === 0 || col("b") === 0, lit(0L))
              .otherwise(floor(col("dt").cast("double") /
                (sqrt(col("a").cast("double")) * sqrt(col("b").cast("double"))) *
                lit(1e6) + lit(0.5)).cast("long")))
          .withColumn("norm_micro",
            floor(sqrt(col("a").cast("double")) + lit(0.5)).cast("long"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            floor(sqrt(max(col("b")).cast("double")) + lit(0.5)).cast("long")
              .as("centroid_norm_micro"),
            floor(sum(col("norm_micro")).cast("double") /
              count(lit(1)).cast("double") + lit(0.5)).cast("long")
              .as("mean_norm_micro"),
            floor(sum(col("cos_micro")).cast("double") /
              count(lit(1)).cast("double") + lit(0.5)).cast("long")
              .as("mean_cos_micro"))
      },
      Some("""
        WITH ex AS (
          SELECT label, vec_id, pos,
                 floor(embedding[pos]::DOUBLE * 1e6 + 0.5)::BIGINT AS xm
          FROM embeddings, unnest(range(1, len(embedding) + 1)) u(pos)),
        comp AS (
          SELECT label, pos,
                 floor(sum(xm)::DOUBLE / count(*)::DOUBLE + 0.5)::BIGINT AS mm
          FROM ex GROUP BY 1, 2),
        per AS (
          SELECT e.label, e.vec_id,
                 sum(e.xm * c.mm)::BIGINT AS dt,
                 sum(e.xm * e.xm)::BIGINT AS a
          FROM ex e JOIN comp c ON e.label = c.label AND e.pos = c.pos
          GROUP BY 1, 2),
        bl AS (SELECT label, sum(mm * mm)::BIGINT AS b FROM comp GROUP BY label),
        scored AS (
          SELECT p.label, p.vec_id, b.b,
                 CASE WHEN p.a = 0 OR b.b = 0 THEN 0
                      ELSE floor(p.dt::DOUBLE
                                 / (sqrt(p.a::DOUBLE) * sqrt(b.b::DOUBLE))
                                 * 1e6 + 0.5)::BIGINT END AS cos_micro,
                 floor(sqrt(p.a::DOUBLE) + 0.5)::BIGINT AS norm_micro
          FROM per p JOIN bl b USING (label))
        SELECT label, count(*)::BIGINT AS n_vecs,
               floor(sqrt(max(b)::DOUBLE) + 0.5)::BIGINT AS centroid_norm_micro,
               floor(sum(norm_micro)::DOUBLE / count(*)::DOUBLE + 0.5)::BIGINT AS mean_norm_micro,
               floor(sum(cos_micro)::DOUBLE / count(*)::DOUBLE + 0.5)::BIGINT AS mean_cos_micro
        FROM scored GROUP BY label""")),

    // Vocabulary HEAD-COVERAGE curve: the share of total token
    // occurrences covered by the top-k most frequent tokens, k ∈
    // {10, 100, 1000} — the "head heaviness" dial a tokenizer-budget or
    // stopword decision reads. One token-count shuffle; the global
    // rank runs AFTER a limit(1000) (TakeOrdered — distributed
    // partial top-k, no global sort), so the single-task window at the
    // end sees a ≤1000-row frame — bounded by construction, the
    // waterfill/groupedMedian doctrine. Ties break by (count DESC,
    // token ASC) identically in both engines.
    "q127_head_coverage" -> Q(
      (s, d) => {
        val counts = Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
        val total = counts.agg(sum(col("n")).as("t"))
        val ord = org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("tok").asc)
        val w = ord.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
        val ranked = counts.orderBy(col("n").desc, col("tok").asc).limit(1000)
          .withColumn("r", row_number().over(ord))
          .withColumn("cum", sum(col("n")).over(w))
        import s.implicits._
        val ks = Seq(10L, 100L, 1000L).toDF("k")
        ranked.crossJoin(broadcast(ks)).filter(col("r") <= col("k"))
          .groupBy("k")
          .agg(max(col("r")).cast("long").as("n_terms"),
            max(col("cum")).as("covered_tokens"))
          .crossJoin(total)
          .select(col("k"), col("n_terms"), col("covered_tokens"),
            col("t").as("total_tokens"),
            floor(col("covered_tokens").cast("double") * lit(1e6) /
              col("t").cast("double") + lit(0.5)).cast("long")
              .as("coverage_micro"))
      },
      Some(s"""
        WITH toks AS (SELECT unnest($DUCK_TOKENS) AS tok FROM documents),
        cnt AS (SELECT tok, count(*)::BIGINT AS n FROM toks GROUP BY tok),
        tot AS (SELECT sum(n)::BIGINT AS t FROM cnt),
        ranked AS (
          SELECT tok, n,
                 row_number() OVER (ORDER BY n DESC, tok) AS r,
                 sum(n) OVER (ORDER BY n DESC, tok
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
          FROM cnt),
        top AS (SELECT * FROM ranked WHERE r <= 1000),
        ks(k) AS (VALUES (10), (100), (1000))
        SELECT k::BIGINT AS k, max(r)::BIGINT AS n_terms,
               max(cum) AS covered_tokens, max(t) AS total_tokens,
               floor(max(cum)::DOUBLE * 1e6 / max(t)::DOUBLE + 0.5)::BIGINT AS coverage_micro
        FROM top, ks, tot WHERE r <= k GROUP BY k""")),

    // Per-source duplication INFLATION: how much bigger each source's
    // token count is than its exact-unique and bag-unique (q125) views
    // — the corpus-health number a dedup budget decision reads ("this
    // crawl is 1.4× inflated"). One pass computes both fingerprints per
    // row (md5 of text; md5 of the sorted token multiset); uniques
    // count distinct fingerprints, unique token mass keeps each
    // family's min-id representative (deterministic). Everything is a
    // (source, hash)-keyed aggregation — no pairwise term; ratios are
    // double divisions of exact longs.
    "q128_dup_inflation" -> Q(
      (s, d) => {
        val rows = Tables.documents(s, d).select(col("source"), col("doc_id"),
          TextOps.tokenCountFast(s, col("text")).cast("long").as("nt"),
          md5(col("text")).as("eh"),
          md5(concat_ws(" ", array_sort(TextOps.tokens(col("text"))))).as("bh"))
        // one row per (source, bag-family): family token mass + its
        // min-id keeper's tokens; exact-distinct count rides along
        val fams = rows.groupBy("source", "bh").agg(
          count(lit(1)).as("n_docs"), sum(col("nt")).as("toks"),
          min(struct(col("doc_id"), col("nt"))).as("kp"),
          countDistinct(col("eh")).as("n_exact"))
        fams.groupBy("source").agg(
          sum(col("n_docs")).as("n_docs"),
          sum(col("n_exact")).cast("long").as("n_exact_unique"),
          count(lit(1)).as("n_bag_unique"),
          sum(col("toks")).as("tokens"),
          sum(col("kp.nt")).as("tokens_bag_unique"))
        .select(col("source"), col("n_docs"), col("n_exact_unique"),
          col("n_bag_unique"), col("tokens"), col("tokens_bag_unique"),
          floor(col("tokens").cast("double") * lit(1e6) /
            greatest(col("tokens_bag_unique"), lit(1L)).cast("double") + lit(0.5))
            .cast("long").as("inflation_micro"))
      },
      Some(s"""
        WITH rows_ AS (
          SELECT source, doc_id, len($DUCK_TOKENS)::BIGINT AS nt,
                 md5(text) AS eh,
                 md5(array_to_string(list_sort($DUCK_TOKENS), ' ')) AS bh
          FROM documents),
        fams AS (
          SELECT source, bh, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS toks,
                 min(struct_pack(doc_id := doc_id, nt := nt)) AS kp,
                 count(DISTINCT eh)::BIGINT AS n_exact
          FROM rows_ GROUP BY 1, 2)
        SELECT source, sum(n_docs)::BIGINT AS n_docs,
               sum(n_exact)::BIGINT AS n_exact_unique,
               count(*)::BIGINT AS n_bag_unique,
               sum(toks)::BIGINT AS tokens,
               sum(kp.nt)::BIGINT AS tokens_bag_unique,
               floor(sum(toks)::DOUBLE * 1e6
                     / greatest(sum(kp.nt), 1)::DOUBLE + 0.5)::BIGINT AS inflation_micro
        FROM fams GROUP BY source""")),

    // CORPUS MANIFEST — the data-versioning primitive a 100 TB corpus
    // release ships: per (source, lang) partition, doc/token counts,
    // id range, and an order-independent 60-bit XOR content checksum
    // (the q117 store-checksum idiom applied to corpus content: any
    // dropped, duplicated or altered document flips the cell; cells
    // verify independently at any scale, constant aggregation state).
    // Two manifests diff cell-by-cell without touching text — the
    // corpus-level complement of q93's per-doc snapshot diff.
    "q129_corpus_manifest" -> Q(
      (s, d) => TextOps.corpusManifest(Tables.documents(s, d)),
      Some("""
        SELECT source, lang, count(*)::BIGINT AS n_docs,
               sum(len(list_filter(str_split(text, ' '), x -> x <> '')))::BIGINT AS n_tokens,
               min(doc_id) AS min_id, max(doc_id) AS max_id,
               bit_xor(('0x' || substr(md5(doc_id || '|' || text), 1, 15))::BIGINT)
                 AS content_checksum
        FROM documents GROUP BY 1, 2""")),

    // PADDING-EFFICIENCY analysis — the measurement that justifies
    // length-grouped batching in a training pipeline: pad-to-batch-max
    // waste under arrival-order batching vs within-shard length-sorted
    // batching, batch size 8. Batching happens WITHIN hash shards (the
    // q122/q123 shard doctrine — a per-shard window at full
    // parallelism, never a global sort), which is also how a real
    // loader forms batches. All-integer: padded = Σ batch_max·batch_n,
    // waste ratio as micro from two exact longs.
    "q130_padding_efficiency" -> Q(
      (s, d) => {
        val base = Tables.documents(s, d).select(col("doc_id"),
            TextOps.tokenCountFast(s, col("text")).cast("long").as("nt"))
          .withColumn("shard", pmod(TextOps.gramHash64(s,
            concat(lit("pad|"), col("doc_id").cast("string"))), lit(16L)))
        def policy(name: String, order: Seq[org.apache.spark.sql.Column]) = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("shard")).orderBy(order: _*)
          base.withColumn("r", row_number().over(w) - 1)
            .withColumn("batch", expr("r div 8"))
            .groupBy("shard", "batch")
            .agg(max(col("nt")).as("mx"), sum(col("nt")).as("tot"),
              count(lit(1)).as("n"))
            .agg(count(lit(1)).as("n_batches"),
              sum(col("mx") * col("n")).as("padded"), sum(col("tot")).as("real"))
            .select(lit(name).as("policy"), col("n_batches"),
              col("padded").as("padded_tokens"), col("real").as("real_tokens"),
              floor((col("padded") - col("real")).cast("double") * lit(1e6) /
                greatest(col("padded"), lit(1L)).cast("double") + lit(0.5))
                .cast("long").as("waste_micro"))
        }
        policy("arrival", Seq(col("doc_id")))
          .unionByName(policy("length_sorted", Seq(col("nt"), col("doc_id"))))
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, len($DUCK_TOKENS)::BIGINT AS nt,
                 ('0x' || substr(md5('pad|' || doc_id), 1, 15))::BIGINT % 16 AS shard
          FROM documents),
        arr AS (
          SELECT shard, ((row_number() OVER (PARTITION BY shard ORDER BY doc_id) - 1)
                         // 8)::BIGINT AS batch, nt
          FROM base),
        srt AS (
          SELECT shard, ((row_number() OVER (PARTITION BY shard ORDER BY nt, doc_id) - 1)
                         // 8)::BIGINT AS batch, nt
          FROM base),
        arrb AS (SELECT shard, batch, max(nt) AS mx, sum(nt) AS tot, count(*) AS n
                 FROM arr GROUP BY 1, 2),
        srtb AS (SELECT shard, batch, max(nt) AS mx, sum(nt) AS tot, count(*) AS n
                 FROM srt GROUP BY 1, 2),
        u AS (
          SELECT 'arrival' AS policy, count(*)::BIGINT AS n_batches,
                 sum(mx * n)::BIGINT AS padded_tokens, sum(tot)::BIGINT AS real_tokens
          FROM arrb
          UNION ALL
          SELECT 'length_sorted', count(*)::BIGINT, sum(mx * n)::BIGINT, sum(tot)::BIGINT
          FROM srtb)
        SELECT policy, n_batches, padded_tokens, real_tokens,
               floor((padded_tokens - real_tokens)::DOUBLE * 1e6
                     / greatest(padded_tokens, 1)::DOUBLE + 0.5)::BIGINT AS waste_micro
        FROM u""")),

    // PER-SOURCE SCORE CALIBRATION — cume_dist via a bounded histogram
    // (text/Calibrate.scala): raw quality scores are not comparable
    // across sources, so one global threshold starves whole sources;
    // the within-source cumulative fraction makes "top half" mean the
    // top half OF EACH SOURCE. The naive window (`cume_dist() OVER
    // (PARTITION BY source ORDER BY score)`) sorts each source in a
    // single task — the calibrated form windows only the guarded
    // (source × snapped-score) cell histogram and joins back.
    "q131_score_calibration" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
          col("text"))
        Calibrate.cumeDist(docs, "source",
            floor(TextOps.qualityScore(col("text")) * lit(1e6) + lit(0.5))
              .cast("long"))
          .select(col("doc_id"), col("source"), col("score_micro"),
            col("n_group"), col("pct_micro"),
            (col("pct_micro") >= 500000L).cast("int").as("keep"))
      },
      Some(s"""
        WITH scored AS (
          SELECT doc_id, source,
                 floor(($qualitySql) * 1e6 + 0.5)::BIGINT AS score_micro
          FROM documents),
        cells AS (
          SELECT source, score_micro, count(*)::BIGINT AS c
          FROM scored GROUP BY 1, 2),
        cum AS (
          SELECT source, score_micro,
                 sum(c) OVER (PARTITION BY source ORDER BY score_micro
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM cells),
        n AS (SELECT source, sum(c)::BIGINT AS n_group FROM cells GROUP BY 1)
        SELECT s.doc_id, s.source, s.score_micro, n.n_group,
               floor(cum::DOUBLE * 1e6 / n_group::DOUBLE + 0.5)::BIGINT AS pct_micro,
               (floor(cum::DOUBLE * 1e6 / n_group::DOUBLE + 0.5) >= 500000)::INT AS keep
        FROM scored s
        JOIN cum USING (source, score_micro)
        JOIN n USING (source)""")),

    // PER-SOURCE TOKEN-DISTRIBUTION KL DIVERGENCE vs the corpus — the
    // token-level drift statistic (q126's embedding-drift sibling): a
    // source whose unigram distribution matches the corpus scores ~0,
    // a templated or single-domain source scores high. Contributions
    // micro-snapped then integer-summed (q66 doctrine); double-first
    // multiplies in the log ratio (PMI overflow doctrine).
    "q132_source_kl" -> Q(
      (s, d) => NgramLm.unigramKlByGroup(Tables.documents(s, d), "source", "text")
        .withColumnRenamed("grp", "source"),
      Some(s"""
        WITH toks AS (SELECT source, unnest($DUCK_TOKENS) AS term FROM documents),
        cg AS (SELECT source, term, count(*)::BIGINT AS c_gt FROM toks GROUP BY 1, 2),
        ct AS (SELECT term, sum(c_gt)::BIGINT AS c_t FROM cg GROUP BY 1),
        tg AS (SELECT source, sum(len($DUCK_TOKENS))::BIGINT AS t_g
               FROM documents GROUP BY 1),
        tot AS (SELECT sum(len($DUCK_TOKENS))::BIGINT AS t FROM documents),
        k AS (
          SELECT cg.source, tg.t_g,
                 count(*)::BIGINT AS n_terms,
                 sum(floor(c_gt::DOUBLE / t_g::DOUBLE
                           * ln((c_gt::DOUBLE * t::DOUBLE)
                                / (t_g::DOUBLE * c_t::DOUBLE))
                           * 1e6 + 0.5)::BIGINT)::BIGINT AS kl_micro
          FROM cg JOIN ct USING (term) JOIN tg USING (source) CROSS JOIN tot
          GROUP BY 1, 2)
        SELECT source, n_terms, t_g AS t_tokens, kl_micro,
               kl_micro::DOUBLE / 1e6 AS kl
        FROM k""")),

    // MULTINOMIAL NAIVE BAYES language classifier, trained AND applied
    // in one plan (text/Classify.scala) — the lightweight bootstrap
    // classifier a labeling pipeline fits from weak labels and runs at
    // corpus scale. Add-one smoothing; per-(term,label) log-probs and
    // priors micro-snapped once in the model table, document scores
    // exact integer sums; argmax ties to the larger label on both
    // engines. Resubstitution accuracy rides out as the `correct` flag.
    "q133_naive_bayes" -> Q(
      (s, d) => Classify.naiveBayesSelfTest(Tables.documents(s, d),
        "doc_id", "text", "lang"),
      Some(s"""
        WITH $nbCtes
        SELECT doc_id, label_true AS label, cand AS pred_label,
               total AS score_micro, (cand = label_true)::INT AS correct
        FROM tot
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY total DESC, cand DESC) = 1""")),

    // PRODUCT-QUANTIZATION audit (Jégou et al. 2011): per-subspace code
    // assignment + quantization SSE under a deterministic md5-derived
    // codebook (m=4 subspaces × 8 codes over the 64-dim embeddings) —
    // the compression-error census before committing a corpus to a
    // PQ-compressed ANN index; q68's (scalar int8) vector-codebook
    // sibling. Zero shuffles: per-row codegen slices + kernel dots,
    // SSE micro-snapped BEFORE the argmin so both engines compare
    // identical longs; ties to the lowest code.
    "q134_pq_audit" -> Q(
      (s, d) => Similarity.pqAudit(Tables.embeddings(s, d), "vec_id", "embedding",
        dims = 64, m = 4, ksub = 8),
      Some(s"""
        WITH $pqCtes
        SELECT vec_id, subspace, code, sse_micro
        FROM sse
        QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
                                   ORDER BY sse_micro, code) = 1""")),

    // HYBRID RETRIEVAL via RECIPROCAL-RANK FUSION (Cormack et al. 2009):
    // a dense ranker (embedding cosine top-20) and a sparse ranker
    // (word-3-gram-overlap top-20, query-by-example) fused on RANKS —
    // score = Σ 1/(60+rank), micro-snapped then integer-summed, so the
    // fused ordering is engine-exact with the doc-id tie-break. Every
    // post-ranker frame is |queries|×k-bounded: the fusion costs nothing
    // at corpus scale beyond the rankers themselves.
    "q135_rrf_fusion" -> Q(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val dense = Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") % 25 === 0), "vec_id", "embedding", k = 20)
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
        val sparse = Retrieval.shingleOverlapTopK(Tables.documents(s, d),
            "doc_id", "text", col("doc_id") % 25 === 0, n = 3, k = 20)
          .select(col("query_id"), col("doc_id"), col("rank"))
        Retrieval.rrfFuse(Seq(dense, sparse), k0 = 60, k = 10)
      },
      Some(s"""
        WITH $hybridRankerCtes,
        uni AS (SELECT query_id, doc_id,
                       floor(1e6 / (60 + rank) + 0.5)::BIGINT AS c FROM dense
                UNION ALL
                SELECT query_id, doc_id,
                       floor(1e6 / (60 + rank) + 0.5)::BIGINT FROM sparse),
        fused AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_rankers,
                         sum(c)::BIGINT AS rrf_micro
                  FROM uni GROUP BY 1, 2)
        SELECT query_id, doc_id, n_rankers, rrf_micro, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY rrf_micro DESC, doc_id) AS rank FROM fused)
        WHERE rank <= 10""")),

    // MMR diversified top-k (Carbonell & Goldstein 1998): greedy
    // redundancy-suppressing re-rank of each query's cosine top-8 down to
    // 4 picks at λ=0.7. The greedy trajectory is exact integer arithmetic
    // on micro-snapped cosines (z = 7·rel − 3·maxsim, ties to the smaller
    // vec id), sequential in k but parallel across queries (typed
    // flatMapGroups over ≤C²-row groups — the Recurrence doctrine). The
    // oracle unrolls the k=4 greedy as four window-argmax layers.
    "q136_mmr_select" -> Q(
      (s, d) => Similarity.mmrSelect(Tables.embeddings(s, d), "vec_id",
        "embedding", col("vec_id") % 25 === 0, nCandidates = 8, k = 4),
      Some(mmrSql(nCand = 8, k = 4, lamX10 = 7))),

    // Per-source Pearson correlation between the quality score and raw
    // document length — the "has my scorer degenerated into a length
    // proxy" drift diagnostic. Five exact integer moments per group, one
    // fixed double-op sequence at the end (Calibrate.groupedPearson):
    // no per-group ranking, so it scales as a plain aggregation.
    "q137_score_length_corr" -> Q(
      (s, d) => Calibrate.groupedPearson(
        Tables.documents(s, d).select(col("source"), col("text"), col("n_chars")),
        "source",
        floor(TextOps.qualityScore(col("text")) * lit(1e6) + lit(0.5)),
        col("n_chars")),
      Some(s"""
        WITH s AS (SELECT source,
                          floor(($qualitySql) * 1e6 + 0.5)::BIGINT AS x,
                          n_chars AS y
                   FROM documents),
        m AS (SELECT source, count(*)::BIGINT AS n_rows,
                     sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                     sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
                     sum(x * y)::BIGINT AS sxy
              FROM s GROUP BY 1),
        r AS (SELECT source, n_rows,
                     CASE WHEN n_rows >= 2
                               AND (n_rows::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                               AND (n_rows::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
                          THEN floor((n_rows::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                                     / (sqrt(n_rows::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                                        * sqrt(n_rows::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
                                     * 1e6 + 0.5)::BIGINT
                     END AS corr_micro
              FROM m)
        SELECT source, n_rows, corr_micro,
               corr_micro::DOUBLE / 1e6 AS corr
        FROM r""")),

    // DPO-style PREFERENCE-PAIR MINING: per (source, lang) bucket, the
    // highest- vs lowest-quality document, kept when the margin clears
    // 0.05. Both extremes from ONE groupBy via max/min(struct) — the q95
    // keeper-argmax doctrine, no per-group window sort.
    "q138_preference_pairs" -> Q(
      (s, d) => Classify.preferencePairs(Tables.documents(s, d), "doc_id",
        Seq("source", "lang"),
        floor(TextOps.qualityScore(col("text")) * lit(1e6) + lit(0.5)).cast("long"),
        minMarginMicro = 50000L),
      Some(s"""
        WITH s AS (SELECT source, lang, doc_id,
                          floor(($qualitySql) * 1e6 + 0.5)::BIGINT AS sm
                   FROM documents),
        g AS (SELECT source, lang, count(*)::BIGINT AS n_group
              FROM s GROUP BY 1, 2),
        ch AS (SELECT source, lang, doc_id AS chosen_id, sm AS chosen_micro
               FROM s
               QUALIFY row_number() OVER (PARTITION BY source, lang
                                          ORDER BY sm DESC, doc_id) = 1),
        rj AS (SELECT source, lang, doc_id AS rejected_id, sm AS rejected_micro
               FROM s
               QUALIFY row_number() OVER (PARTITION BY source, lang
                                          ORDER BY sm ASC, doc_id) = 1)
        SELECT source, lang, n_group, chosen_id, rejected_id,
               chosen_micro, rejected_micro,
               chosen_micro - rejected_micro AS margin_micro
        FROM ch JOIN rj USING (source, lang) JOIN g USING (source, lang)
        WHERE chosen_micro - rejected_micro >= 50000
          AND chosen_id <> rejected_id""")),

    // Class-balance weights by EFFECTIVE NUMBER OF SAMPLES (Cui et al.
    // 2019) over the embedding labels: weight ∝ (1−β)/(1−β^n), plus each
    // label's share of the weight mass. Label-bounded after one count
    // aggregation; β^n is the per-row libm pow the micro snap absorbs.
    "q139_class_weights" -> Q(
      (s, d) => Classify.classWeights(Tables.embeddings(s, d), "label",
        beta = 0.999),
      Some("""
        WITH c AS (SELECT label, count(*)::BIGINT AS n FROM embeddings GROUP BY 1),
        w AS (SELECT label, n,
                     floor((1.0::DOUBLE - 0.999::DOUBLE)
                           / (1.0::DOUBLE - power(0.999::DOUBLE, n::DOUBLE))
                           * 1e6 + 0.5)::BIGINT AS weight_micro
              FROM c),
        t AS (SELECT sum(weight_micro)::BIGINT AS w_total FROM w)
        SELECT label, n, weight_micro,
               floor(weight_micro::DOUBLE * 1e6 / w_total::DOUBLE + 0.5)::BIGINT
                 AS share_micro
        FROM w CROSS JOIN t""")),

    // CHI-SQUARE INDEPENDENCE cells for source × lang — "are my sources
    // language-balanced". One corpus cell aggregation; totals are window
    // sums over the guarded cell frame (Calibrate.chiSquare); observed
    // and totals exact integers, E and the contribution one fixed
    // double-op sequence.
    "q140_chi2_independence" -> Q(
      (s, d) => Calibrate.chiSquare(
        Tables.documents(s, d).select(col("source"), col("lang")),
        "source", "lang"),
      Some("""
        WITH obs AS (SELECT source, lang, count(*)::BIGINT AS o
                     FROM documents GROUP BY 1, 2),
        cells AS (SELECT r.source, c.lang, coalesce(obs.o, 0)::BIGINT AS o
                  FROM (SELECT DISTINCT source FROM obs) r
                  CROSS JOIN (SELECT DISTINCT lang FROM obs) c
                  LEFT JOIN obs ON obs.source = r.source AND obs.lang = c.lang),
        w AS (SELECT source, lang, o,
                     sum(o) OVER (PARTITION BY source) AS row_total,
                     sum(o) OVER (PARTITION BY lang) AS col_total,
                     sum(o) OVER () AS n_total
              FROM cells)
        SELECT source, lang, o,
               row_total::BIGINT AS row_total, col_total::BIGINT AS col_total,
               n_total::BIGINT AS n_total,
               floor(row_total::DOUBLE * col_total::DOUBLE / n_total::DOUBLE
                     * 1e6 + 0.5)::BIGINT AS e_micro,
               floor((o::DOUBLE - row_total::DOUBLE * col_total::DOUBLE / n_total::DOUBLE)
                     * (o::DOUBLE - row_total::DOUBLE * col_total::DOUBLE / n_total::DOUBLE)
                     / (row_total::DOUBLE * col_total::DOUBLE / n_total::DOUBLE)
                     * 1e6 + 0.5)::BIGINT AS contrib_micro
        FROM w""")),

    // SIGNED FEATURE HASHING (Weinberger et al. 2009): fixed-16-dim
    // integer bag-of-words vectors with ± sign correction — no
    // vocabulary table at all, pure integer arithmetic, engine-exact.
    "q141_feature_hash" -> Q(
      (s, d) => Terms.signedFeatureHash(Tables.documents(s, d),
        "doc_id", "text", dims = 16),
      Some(s"""
        WITH h AS (
          SELECT doc_id,
                 ('0x' || substr(md5(term), 1, 15))::BIGINT % 16 AS dim,
                 CASE WHEN ('0x' || substr(md5(term), 17, 15))::BIGINT % 2 = 0
                      THEN 1 ELSE -1 END AS sign
          FROM (SELECT doc_id, unnest($DUCK_TOKENS) AS term FROM documents))
        SELECT doc_id, dim, count(*)::BIGINT AS n_terms,
               sum(sign)::BIGINT AS value
        FROM h GROUP BY 1, 2""")),

    // Per-doc BIGRAM CONDITIONAL ENTROPY RATE — the information-theoretic
    // repetitiveness axis (q51's sibling): looping/templated text scores
    // low, natural prose high. Everything keyed by doc; c_a is a rollup
    // over the bigram-count frame, never a second corpus pass.
    "q142_bigram_entropy" -> Q(
      (s, d) => NgramLm.bigramEntropyRate(Tables.documents(s, d),
        "doc_id", "text"),
      Some(s"""
        WITH t AS (SELECT doc_id, $DUCK_TOKENS AS tk FROM documents),
        bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
               FROM t, unnest(range(1, len(tk))) AS u(i)
               WHERE len(tk) >= 2),
        cab AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS c_ab
                FROM bg GROUP BY 1, 2, 3),
        ca AS (SELECT doc_id, w1, sum(c_ab)::BIGINT AS c_a
               FROM cab GROUP BY 1, 2),
        terms AS (SELECT cab.doc_id, c_ab,
                         floor(c_ab::DOUBLE * (ln(c_a::DOUBLE) - ln(c_ab::DOUBLE))
                               * 1e6 + 0.5)::BIGINT AS hm
                  FROM cab JOIN ca USING (doc_id, w1))
        SELECT doc_id, sum(c_ab)::BIGINT AS n_bigrams,
               sum(hm)::BIGINT AS h_sum_micro,
               sum(hm)::DOUBLE / (sum(c_ab)::DOUBLE * 1e6) AS entropy_rate
        FROM terms GROUP BY 1""")),

    // TEMPERATURE-SCALED MIXTURE (XLM-R sampling, α=0.3): per-source
    // token-share p, tempered share q ∝ p^α and the boost q/p a weighted
    // sampler consumes — the low-resource upsampling formula.
    "q143_temperature_mixture" -> Q(
      (s, d) => Terms.temperatureMixture(Tables.documents(s, d),
        "source", "text", alpha = 0.3),
      Some(s"""
        WITH c AS (SELECT source, sum(len($DUCK_TOKENS))::BIGINT AS n_tokens
                   FROM documents GROUP BY 1),
        t AS (SELECT sum(n_tokens)::BIGINT AS n_total FROM c),
        w AS (SELECT source, n_tokens, n_total,
                     floor(power(n_tokens::DOUBLE / n_total::DOUBLE, 0.3::DOUBLE)
                           * 1e6 + 0.5)::BIGINT AS w_micro
              FROM c CROSS JOIN t),
        wt AS (SELECT sum(w_micro)::BIGINT AS w_total FROM w),
        f AS (SELECT source, n_tokens,
                     floor(n_tokens::DOUBLE * 1e6 / n_total::DOUBLE + 0.5)::BIGINT
                       AS p_micro,
                     floor(w_micro::DOUBLE * 1e6 / w_total::DOUBLE + 0.5)::BIGINT
                       AS q_micro,
                     n_tokens::DOUBLE / n_total::DOUBLE AS p
              FROM w CROSS JOIN wt)
        SELECT source, n_tokens, p_micro, q_micro,
               floor((q_micro::DOUBLE / 1e6) / p * 1e6 + 0.5)::BIGINT AS boost_micro
        FROM f""")),

    // Per-source KOLMOGOROV–SMIRNOV length-distribution shift vs the
    // corpus marginal — the nonparametric drift test beside q132's
    // token KL; the argmax runs on exact integers (|cum_g·N − cum_all·n|)
    // with one trailing division (Calibrate.ksByGroup).
    "q144_length_ks" -> Q(
      (s, d) => Calibrate.ksByGroup(
        Tables.documents(s, d).select(col("source"), col("n_chars")),
        "source", "n_chars"),
      Some("""
        WITH cells AS (SELECT source, n_chars::BIGINT AS v, count(*)::BIGINT AS c
                       FROM documents GROUP BY 1, 2),
        grid AS (SELECT g.source, vv.v, coalesce(c.c, 0)::BIGINT AS c
                 FROM (SELECT DISTINCT source FROM cells) g
                 CROSS JOIN (SELECT DISTINCT v FROM cells) vv
                 LEFT JOIN cells c ON c.source = g.source AND c.v = vv.v),
        cum AS (SELECT source, v,
                       sum(c) OVER (PARTITION BY source ORDER BY v
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cum_g
                FROM grid),
        corpus AS (SELECT v,
                          sum(c_all) OVER (ORDER BY v
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND CURRENT ROW) AS cum_all
                   FROM (SELECT v, sum(c)::BIGINT AS c_all FROM cells GROUP BY 1)),
        tot AS (SELECT source, sum(c)::BIGINT AS n_rows FROM cells GROUP BY 1),
        n AS (SELECT sum(c)::BIGINT AS n_total FROM cells),
        m AS (SELECT cum.source, tot.n_rows, n.n_total,
                     max(abs(cum_g * n_total - cum_all * n_rows)) AS max_diff
              FROM cum JOIN corpus USING (v) JOIN tot USING (source) CROSS JOIN n
              GROUP BY 1, 2, 3)
        SELECT source, n_rows, ks_micro, ks_micro::DOUBLE / 1e6 AS ks
        FROM (SELECT source, n_rows,
                     floor(max_diff::DOUBLE * 1e6
                           / (n_rows::DOUBLE * n_total::DOUBLE) + 0.5)::BIGINT
                       AS ks_micro
              FROM m)""")),

    // MOORE-LEWIS contrastive data selection (Moore & Lewis 2010,
    // unigram): score non-target docs by Σ (ln p_target − ln p_corpus)
    // with add-one smoothing over the shared vocabulary — keep > 0.
    // The per-term log-ratio is micro-snapped once in the model table
    // (q133 pattern); doc scores are exact integer sums.
    "q145_moore_lewis" -> Q(
      (s, d) => Retrieval.mooreLewisScore(Tables.documents(s, d),
        "doc_id", "text", col("source") === "src0"),
      Some(s"""
        WITH toks AS (SELECT doc_id, source = 'src0' AS tgt,
                             unnest($DUCK_TOKENS) AS term
                      FROM documents),
        counts AS (SELECT term, count(*)::BIGINT AS c_all,
                          sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS c_tgt
                   FROM toks GROUP BY 1),
        tot AS (SELECT sum(c_all)::BIGINT AS t_all, sum(c_tgt)::BIGINT AS t_tgt,
                       count(*)::BIGINT AS v
                FROM counts),
        model AS (SELECT term,
                         floor((ln(c_tgt::DOUBLE + 1.0) - ln((t_tgt + v)::DOUBLE)
                                - (ln(c_all::DOUBLE + 1.0) - ln((t_all + v)::DOUBLE)))
                               * 1e6 + 0.5)::BIGINT AS lr_micro
                  FROM counts CROSS JOIN tot)
        SELECT doc_id, count(*)::BIGINT AS n_tokens,
               sum(lr_micro)::BIGINT AS ml_micro,
               (sum(lr_micro) > 0)::INT AS keep
        FROM toks JOIN model USING (term)
        WHERE NOT tgt
        GROUP BY 1""")),

    // RANK-BIASED OVERLAP (Webber et al. 2010) between q135's dense and
    // sparse rankers — the "are my hybrid rankers redundant or
    // complementary" diagnostic. A doc in both prefixes contributes the
    // driver-computed micro weight w(max(rank_a, rank_b)); per-query
    // score is an exact integer sum. The weight table is ONE Scala fold
    // shared with the oracle rendering, identical by construction.
    "q146_rbo_agreement" -> Q(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val dense = Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") % 25 === 0), "vec_id", "embedding", k = 20)
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
        val sparse = Retrieval.shingleOverlapTopK(Tables.documents(s, d),
            "doc_id", "text", col("doc_id") % 25 === 0, n = 3, k = 20)
          .select(col("query_id"), col("doc_id"), col("rank"))
        Retrieval.rboAgreement(dense, sparse, k = 20, p = 0.9)
      },
      Some {
        val w = Retrieval.rboWeights(20, 0.9).mkString("[", ", ", "]")
        s"""
        WITH $hybridRankerCtes,
        j AS (SELECT d.query_id,
                     $w[greatest(d.rank, s.rank)] AS wm
              FROM dense d JOIN sparse s USING (query_id, doc_id)),
        sc AS (SELECT query_id, count(*)::BIGINT AS n_common,
                      sum(wm)::BIGINT AS rbo_micro
               FROM j GROUP BY 1),
        qs AS (SELECT DISTINCT query_id FROM
                 (SELECT query_id FROM dense
                  UNION ALL SELECT query_id FROM sparse))
        SELECT query_id, coalesce(n_common, 0)::BIGINT AS n_common,
               coalesce(rbo_micro, 0)::BIGINT AS rbo_micro,
               coalesce(rbo_micro, 0)::DOUBLE / 1e6 AS rbo
        FROM qs LEFT JOIN sc USING (query_id)"""
      }),

    // Per-source WINSORIZED MEAN of the quality score (clamp at the
    // exact P10/P90 histogram quantiles — integer rank arithmetic, no
    // fp quantile positions): the outlier-robust center for score
    // monitoring (Calibrate.winsorizedMean).
    "q147_winsorized_mean" -> Q(
      (s, d) => Calibrate.winsorizedMean(
        Tables.documents(s, d).select(col("source"), col("text")),
        "source",
        floor(TextOps.qualityScore(col("text")) * lit(1e6) + lit(0.5))
          .cast("long"),
        pLo = 10, pHi = 90),
      Some(s"""
        WITH s AS (SELECT source,
                          floor(($qualitySql) * 1e6 + 0.5)::BIGINT AS v
                   FROM documents),
        cells AS (SELECT source, v, count(*)::BIGINT AS c FROM s GROUP BY 1, 2),
        cum AS (SELECT source, v, c,
                       sum(c) OVER (PARTITION BY source ORDER BY v
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cum
                FROM cells),
        n AS (SELECT source, sum(c)::BIGINT AS n_rows FROM cells GROUP BY 1),
        k AS (SELECT cum.source, v, cum, n_rows,
                     floor((n_rows * 10 + 99)::DOUBLE / 100.0)::BIGINT AS k_lo,
                     floor((n_rows * 90 + 99)::DOUBLE / 100.0)::BIGINT AS k_hi
              FROM cum JOIN n USING (source)),
        lo AS (SELECT source, min(v) AS lo FROM k WHERE cum >= k_lo GROUP BY 1),
        hi AS (SELECT source, min(v) AS hi FROM k WHERE cum >= k_hi GROUP BY 1),
        cl AS (SELECT c.source, lo.lo, hi.hi, c.c,
                      c.c * greatest(lo.lo, least(hi.hi, c.v)) AS clamped
               FROM cells c JOIN lo USING (source) JOIN hi USING (source))
        SELECT source, sum(c)::BIGINT AS n_rows, lo, hi,
               floor(sum(clamped)::DOUBLE / sum(c)::DOUBLE + 0.5)::BIGINT
                 AS wmean_micro
        FROM cl GROUP BY 1, 3, 4""")),

    // Per-source TERM DIVERSITY: Shannon entropy + Simpson collision
    // index of the unigram distribution — template mills score low-H /
    // high-Simpson; q132's KL measures distance from the corpus, these
    // measure internal spread (NgramLm.termDiversityByGroup).
    "q148_source_diversity" -> Q(
      (s, d) => NgramLm.termDiversityByGroup(Tables.documents(s, d),
        "source", "text").withColumnRenamed("grp", "source"),
      Some(s"""
        WITH cg AS (SELECT source, term, count(*)::BIGINT AS c
                    FROM (SELECT source, unnest($DUCK_TOKENS) AS term
                          FROM documents)
                    GROUP BY 1, 2),
        agg AS (SELECT source, count(*)::BIGINT AS n_terms,
                       sum(c)::BIGINT AS t_tokens,
                       sum(floor(c::DOUBLE * ln(c::DOUBLE) * 1e6 + 0.5)::BIGINT)::BIGINT
                         AS s1,
                       sum(c * (c - 1))::BIGINT AS s_coll
                FROM cg GROUP BY 1)
        SELECT source, n_terms, t_tokens,
               floor((ln(t_tokens::DOUBLE)
                      - s1::DOUBLE / (t_tokens::DOUBLE * 1e6))
                     * 1e6 + 0.5)::BIGINT AS shannon_micro,
               CASE WHEN t_tokens >= 2 THEN
                 floor(s_coll::DOUBLE * 1e6
                       / (t_tokens::DOUBLE * (t_tokens::DOUBLE - 1.0))
                       + 0.5)::BIGINT
               END AS simpson_micro
        FROM agg""")),

    // DEDUP SELF-EVALUATION: banding recall + candidate precision of the
    // q35 MinHash LSH configuration against exact blocked ground truth
    // (lang × source blocks) — the audit that tunes k/bands before a
    // corpus-scale run (NearDup.dedupRecallEval). Every count is an
    // integer; the two ratios divide once.
    "q149_dedup_recall" -> Q(
      (s, d) => NearDup.dedupRecallEval(Tables.documents(s, d),
        "doc_id", "text", Seq("lang", "source"),
        nGram = 3, k = 16, bands = 8, minJaccard = 0.5),
      Some(s"""
        WITH ${minhashCtes(16, 8)},
        blk AS (SELECT doc_id, lang, source FROM documents),
        gt AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM sets a
               JOIN blk ba ON ba.doc_id = a.doc_id
               JOIN sets b ON a.doc_id < b.doc_id
               JOIN blk bb ON bb.doc_id = b.doc_id
               WHERE ba.lang = bb.lang AND ba.source = bb.source
                 AND round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                           (len(a.sh) + len(b.sh)
                            - len(list_intersect(a.sh, b.sh))::DOUBLE),
                           4) >= 0.5),
        cb AS (SELECT c.id_a, c.id_b,
                      (round(len(list_intersect(da.sh, db.sh))::DOUBLE /
                             (len(da.sh) + len(db.sh)
                              - len(list_intersect(da.sh, db.sh))::DOUBLE),
                             4) >= 0.5)::BIGINT AS verified
               FROM cand c
               JOIN sets da ON da.doc_id = c.id_a
               JOIN sets db ON db.doc_id = c.id_b
               JOIN blk ba ON ba.doc_id = c.id_a
               JOIN blk bb ON bb.doc_id = c.id_b
               WHERE ba.lang = bb.lang AND ba.source = bb.source),
        m AS (SELECT (SELECT count(*) FROM gt)::BIGINT AS n_truth,
                     (SELECT count(*) FROM cb)::BIGINT AS n_cand,
                     (SELECT coalesce(sum(verified), 0) FROM cb)::BIGINT
                       AS n_verified)
        SELECT n_truth, n_cand, n_verified,
               CASE WHEN n_cand > 0
                    THEN floor(n_verified::DOUBLE * 1e6 / n_cand::DOUBLE
                               + 0.5)::BIGINT END AS precision_micro,
               CASE WHEN n_truth > 0
                    THEN floor(n_verified::DOUBLE * 1e6 / n_truth::DOUBLE
                               + 0.5)::BIGINT END AS recall_micro
        FROM m""")),

    // CROSS-SOURCE PERPLEXITY MATRIX: mean cross-entropy of each source
    // under every other source's add-one unigram LM — which sources
    // predict which (the Moore-Lewis contrast widened to a full S×S
    // affinity map). The smoothing denominator folds out of the sum, so
    // only the INNER vocab join is materialized — never a vocab×S² grid
    // (NgramLm.crossSourcePerplexity).
    "q150_cross_perplexity" -> Q(
      (s, d) => NgramLm.crossSourcePerplexity(Tables.documents(s, d),
        "source", "text"),
      Some(s"""
        WITH cg AS (SELECT source AS grp, term, count(*)::BIGINT AS c
                    FROM (SELECT source, unnest($DUCK_TOKENS) AS term
                          FROM documents)
                    GROUP BY 1, 2),
        tg AS (SELECT grp, sum(c)::BIGINT AS t_g FROM cg GROUP BY 1),
        vv AS (SELECT count(DISTINCT term)::BIGINT AS v FROM cg),
        pairs AS (SELECT e.grp AS eval_source, t.grp AS train_source,
                         sum(floor(e.c::DOUBLE * ln(t.c::DOUBLE + 1.0)
                                   * 1e6 + 0.5)::BIGINT)::BIGINT AS s
                  FROM cg e JOIN cg t USING (term) GROUP BY 1, 2),
        grid AS (SELECT te.grp AS train_source, te.t_g AS t_train,
                        ee.grp AS eval_source, ee.t_g AS t_eval
                 FROM tg te CROSS JOIN tg ee)
        SELECT train_source, eval_source, t_eval,
               floor((ln((t_train + v)::DOUBLE)
                      - coalesce(s, 0)::DOUBLE / (t_eval::DOUBLE * 1e6))
                     * 1e6 + 0.5)::BIGINT AS xent_micro
        FROM grid LEFT JOIN pairs USING (train_source, eval_source)
        CROSS JOIN vv""")),

    // nDCG@20 of the dense ranker against seeded graded relevance: the
    // judged pool is every 5th vector per query (a qrels set
    // INDEPENDENT of the ranking, as real judgments are), md5-graded
    // 0-3 — so ranked-but-unjudged docs exercise the grade-0 coalesce
    // and the IDCG truncation bites (top-20 of a wider judged pool).
    // Per-rank gain terms micro-snap before the per-query sum
    // (Eval.ndcgAtK).
    "q151_ndcg" -> Q(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ranking = Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
            k = 20)
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
        val grades = emb.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("doc_id"))
          .crossJoin(broadcast(emb.filter(col("vec_id") % 25 === 0)
            .select(col("vec_id").as("query_id"))))
          .withColumn("grade",
            pmod(TextOps.hashPrefix("rel|",
              concat(col("query_id").cast("string"), lit("#"),
                col("doc_id").cast("string"))), lit(4L)).cast("int"))
        Eval.ndcgAtK(ranking, grades, k = 20)
      },
      Some(s"""
        WITH $hybridRankerCtes,
        g AS (SELECT q.query_id, p.doc_id,
                     ('0x' || substr(md5('rel|' || q.query_id || '#' || p.doc_id),
                                     1, 8))::BIGINT % 4 AS grade
              FROM (SELECT vec_id AS doc_id FROM embeddings
                    WHERE vec_id % 5 = 0) p
              CROSS JOIN (SELECT vec_id AS query_id FROM embeddings
                          WHERE vec_id % 25 = 0) q),
        dc AS (SELECT d.query_id,
                      sum(floor((power(2.0, coalesce(g.grade, 0)) - 1.0)
                                * ln(2.0)
                                / ln(d.rank + 1.0) * 1e6 + 0.5)::BIGINT
                         )::BIGINT AS dcg_micro
               FROM dense d LEFT JOIN g USING (query_id, doc_id)
               GROUP BY 1),
        ig AS (SELECT query_id,
                      sum(floor((power(2.0, grade) - 1.0) * ln(2.0)
                                / ln(irank + 1.0) * 1e6 + 0.5)::BIGINT
                         )::BIGINT AS idcg_micro
               FROM (SELECT query_id, grade,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY grade DESC, doc_id) AS irank
                     FROM g)
               WHERE irank <= 20 GROUP BY 1)
        SELECT query_id,
               coalesce(dcg_micro, 0)::BIGINT AS dcg_micro,
               coalesce(idcg_micro, 0)::BIGINT AS idcg_micro,
               CASE WHEN coalesce(idcg_micro, 0) > 0
                    THEN floor(coalesce(dcg_micro, 0)::DOUBLE * 1e6
                               / idcg_micro::DOUBLE + 0.5)::BIGINT
               END AS ndcg_micro
        FROM dc FULL OUTER JOIN ig USING (query_id)""")),

    // Embedding COVARIANCE MATRIX — the PCA/whitening/drift front-end:
    // one corpus scan to d(d+1)/2 upper-triangular cells with exact
    // integer moments (products micro-snapped pre-sum). The d²-bounded
    // result feeds Spectral.topEigenvector's driver power iteration
    // (SpectralSpec), the loadCentroids collect class.
    "q152_embedding_covariance" -> Q(
      (s, d) => Spectral.covarianceMatrix(Tables.embeddings(s, d),
        "embedding"),
      Some("""
        WITH e AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS v
                   FROM embeddings),
        ex AS (SELECT generate_subscripts(v, 1) - 1 AS i, unnest(v) AS xi, v
               FROM e),
        px AS (SELECT i, xi, generate_subscripts(v, 1) - 1 AS j,
                      unnest(v) AS xj
               FROM ex),
        cells AS (SELECT i, j, count(*)::BIGINT AS n,
                         sum(floor(xi * xj * 1e6 + 0.5)::BIGINT)::BIGINT AS sxy,
                         sum(floor(xi * 1e6 + 0.5)::BIGINT)::BIGINT AS sx,
                         sum(floor(xj * 1e6 + 0.5)::BIGINT)::BIGINT AS sy
                  FROM px WHERE j >= i GROUP BY 1, 2)
        SELECT i, j, n, sxy, sx, sy,
               floor(sxy::DOUBLE / n - (sx::DOUBLE / n) * (sy::DOUBLE / n)
                     / 1e6 + 0.5)::BIGINT AS cov_micro
        FROM cells""")),

    // COHEN'S KAPPA between two cheap labelers (quality-gate vs
    // char-length rule), per lang — the inter-annotator agreement gate
    // before trusting either heuristic as a corpus filter. Confusion
    // cells are exact integers from one scan; marginal products go
    // double-first (n² overflows BIGINT at corpus scale)
    // (Eval.cohensKappa).
    "q153_labeler_kappa" -> Q(
      (s, d) => Eval.cohensKappa(Tables.documents(s, d), "lang",
          TextOps.qualityScore(col("text")) >= 0.5,
          size(TextOps.tokens(col("text"))) >= 20)
        .withColumnRenamed("grp", "lang"),
      Some(s"""
        WITH t AS (SELECT lang, ($qualitySql) >= 0.5 AS a,
                          len($DUCK_TOKENS) >= 20 AS b
                   FROM documents),
        c AS (SELECT lang, count(*)::BIGINT AS n,
                     sum((a AND b)::BIGINT)::BIGINT AS n11,
                     sum((a AND NOT b)::BIGINT)::BIGINT AS n10,
                     sum((NOT a AND b)::BIGINT)::BIGINT AS n01,
                     sum((NOT a AND NOT b)::BIGINT)::BIGINT AS n00
              FROM t GROUP BY 1),
        k AS (SELECT *,
                     (n11 + n00)::DOUBLE / n::DOUBLE AS po,
                     ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
                      + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
                       / (n::DOUBLE * n::DOUBLE) AS pe
              FROM c)
        SELECT lang, n, n11, n10, n01, n00,
               floor(po * 1e6 + 0.5)::BIGINT AS po_micro,
               floor(pe * 1e6 + 0.5)::BIGINT AS pe_micro,
               CASE WHEN pe < 1.0
                    THEN floor((po - pe) / (1.0 - pe) * 1e6 + 0.5)::BIGINT
               END AS kappa_micro
        FROM k""")),

    // Per-source mean quality with a POISSON-BOOTSTRAP 95% CI (Chamandy
    // et al.'s map-reduce bootstrap — the only bootstrap that
    // distributes: each (doc, replicate) draws an independent seeded
    // Poisson(1) weight, so no group row-count is needed up front).
    // CI bounds are exact order statistics of the 32 replicate means
    // (Eval.poissonBootstrapCI; the CDF table is one shared literal).
    "q154_bootstrap_ci" -> Q(
      (s, d) => Eval.poissonBootstrapCI(
          Tables.documents(s, d), "source", "doc_id",
          floor(TextOps.qualityScore(col("text")) * lit(1e6) + lit(0.5))
            .cast("long"),
          b = 32)
        .withColumnRenamed("grp", "source"),
      Some {
        val cdf = Eval.POISSON1_CDF_MICRO
        val wCase = cdf.zipWithIndex
          .map { case (c, w) => s"WHEN u < $c THEN $w" }
          .mkString("CASE ", " ", s" ELSE ${cdf.length} END")
        s"""
        WITH s AS (SELECT source, doc_id,
                          floor(($qualitySql) * 1e6 + 0.5)::BIGINT AS s
                   FROM documents),
        reps AS (SELECT source, doc_id, s, r.range AS rep
                 FROM s, range(0, 32) r),
        drawn AS (SELECT source, rep, s,
                         ('0x' || substr(md5('boot|' || doc_id || '#' || rep),
                                         1, 8))::BIGINT % 1000000 AS u
                  FROM reps),
        wtd AS (SELECT source, rep, s, $wCase AS w FROM drawn),
        rm AS (SELECT source, rep, sum(w)::BIGINT AS sw,
                      sum(w * s)::BIGINT AS sws
               FROM wtd GROUP BY 1, 2),
        mm AS (SELECT source, rep,
                      floor(sws::DOUBLE / sw::DOUBLE + 0.5)::BIGINT AS mean_rep
               FROM rm WHERE sw > 0),
        rk AS (SELECT source, mean_rep,
                      row_number() OVER (PARTITION BY source
                        ORDER BY mean_rep, rep) AS rn,
                      count(*) OVER (PARTITION BY source) AS n_reps
               FROM mm),
        ci AS (SELECT source, max(n_reps)::BIGINT AS n_reps,
                      max(CASE WHEN rn = greatest(
                            floor((n_reps * 25 + 999) / 1000)::BIGINT, 1)
                          THEN mean_rep END) AS boot_lo_micro,
                      max(CASE WHEN rn = greatest(
                            floor((n_reps * 975 + 999) / 1000)::BIGINT, 1)
                          THEN mean_rep END) AS boot_hi_micro
               FROM rk GROUP BY 1),
        f AS (SELECT source, count(*)::BIGINT AS n_rows,
                     floor(sum(s)::DOUBLE / count(*)::DOUBLE + 0.5)::BIGINT
                       AS mean_micro
              FROM s GROUP BY 1)
        SELECT f.source, n_rows, mean_micro, n_reps,
               boot_lo_micro, boot_hi_micro
        FROM f LEFT JOIN ci USING (source)"""
      }),

    // Head-to-head WIN RATES between sources under the quality score —
    // a deterministic hash-bucketed tournament pairs id-adjacent docs
    // within md5 buckets; cross-source pairs score (winner = higher
    // score, tie → smaller id); the win-rate logit is the one-step
    // Bradley-Terry strength (Eval.tournamentWinRates; nBuckets is the
    // parallelism knob — per-bucket sorts are the only ordered pass).
    "q155_pairwise_winrate" -> Q(
      (s, d) => Eval.tournamentWinRates(
        Tables.documents(s, d), "doc_id", "source",
        floor(TextOps.qualityScore(col("text")) * lit(1e6) + lit(0.5))
          .cast("long"),
        nBuckets = 64),
      Some(s"""
        WITH t AS (SELECT doc_id AS id, source AS entity,
                          floor(($qualitySql) * 1e6 + 0.5)::BIGINT AS s,
                          ('0x' || substr(md5('pair|' || doc_id), 1, 8))::BIGINT
                            % 64 AS bucket
                   FROM documents),
        p AS (SELECT *, lead(id) OVER w AS nid, lead(entity) OVER w AS nentity,
                     lead(s) OVER w AS ns
              FROM t WINDOW w AS (PARTITION BY bucket ORDER BY id)),
        pp AS (SELECT *, (s > ns OR (s = ns AND id < nid)) AS a_wins
               FROM p WHERE nid IS NOT NULL AND entity <> nentity),
        sides AS (SELECT entity, a_wins AS win FROM pp
                  UNION ALL SELECT nentity, NOT a_wins FROM pp),
        agg AS (SELECT entity, count(*)::BIGINT AS n_pairs,
                       sum(win::BIGINT)::BIGINT AS n_wins
                FROM sides GROUP BY 1)
        SELECT entity, n_pairs, n_wins,
               floor(n_wins::DOUBLE * 1e6 / n_pairs::DOUBLE + 0.5)::BIGINT
                 AS winrate_micro,
               CASE WHEN n_wins > 0 AND n_wins < n_pairs
                    THEN floor(ln(n_wins::DOUBLE
                                  / (n_pairs - n_wins)::DOUBLE)
                               * 1e6 + 0.5)::BIGINT
               END AS logit_micro
        FROM agg""")),

    // DIFFERENTIALLY-PRIVATE histogram release: per-(lang, source) doc
    // counts with seeded Laplace(1/ε) noise (count sensitivity 1 →
    // ε-DP, Dwork et al.) — the governance op a corpus card needs when
    // exact per-slice counts would leak membership. The seeded
    // inverse-CDF draw makes the release deterministic per (seed, cell)
    // — idempotent re-release, oracle-checkable; the privacy/seed
    // accounting caveat is documented at Eval.dpNoisyCounts.
    "q156_dp_histogram" -> Q(
      (s, d) => Eval.dpNoisyCounts(Tables.documents(s, d),
        Seq("lang", "source"), epsilon = 1.0),
      Some("""
        WITH c AS (SELECT lang, source, count(*)::BIGINT AS n
                   FROM documents GROUP BY 1, 2),
        nz AS (SELECT lang, source,
                      (('0x' || substr(md5('dp|' || lang || '#' || source),
                                       1, 8))::BIGINT::DOUBLE + 0.5)
                        / 4294967296.0 AS u, n
               FROM c),
        r AS (SELECT lang, source,
                     floor((n::DOUBLE
                            - (CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END)
                              * ln(1.0 - 2.0 * abs(u - 0.5)) / 1.0)
                           * 1e6 + 0.5)::BIGINT AS noisy_micro
              FROM nz)
        SELECT lang, source, noisy_micro,
               greatest(0, floor(noisy_micro::DOUBLE / 1e6 + 0.5)::BIGINT)
                 AS released
        FROM r""")),

    // Per-source SPEARMAN rank correlation between the (centi-snapped)
    // quality score and document length — the monotone-association
    // sibling of q137's Pearson, computed the doctrine-safe way:
    // tie-averaged midranks from the guarded joint histogram (doubled
    // to stay integer), exact integer moments, one double tail
    // (Calibrate.groupedSpearman; the ≤1.3e6-rows-per-group require is
    // the honest 64-bit bound of cubic rank moments — larger groups
    // compose q71's per-group sample first).
    "q157_score_length_spearman" -> Q(
      (s, d) => Calibrate.groupedSpearman(Tables.documents(s, d), "source",
          floor(TextOps.qualityScore(col("text")) * lit(100) + lit(0.5))
            .cast("long"),
          col("n_chars").cast("long"))
        .withColumnRenamed("grp", "source"),
      Some(s"""
        WITH t AS (SELECT source,
                          floor(($qualitySql) * 100 + 0.5)::BIGINT AS x,
                          n_chars::BIGINT AS y
                   FROM documents),
        cells AS (SELECT source, x, y, count(*)::BIGINT AS c
                  FROM t GROUP BY 1, 2, 3),
        xr AS (SELECT source, x,
                      2 * (sum(cm) OVER (PARTITION BY source ORDER BY x)
                           - cm) + cm + 1 AS mr2x
               FROM (SELECT source, x, sum(c)::BIGINT AS cm
                     FROM cells GROUP BY 1, 2)),
        yr AS (SELECT source, y,
                      2 * (sum(cm) OVER (PARTITION BY source ORDER BY y)
                           - cm) + cm + 1 AS mr2y
               FROM (SELECT source, y, sum(c)::BIGINT AS cm
                     FROM cells GROUP BY 1, 2)),
        mom AS (SELECT source, sum(c)::BIGINT AS n,
                       sum(c * mr2x)::BIGINT AS sx,
                       sum(c * mr2y)::BIGINT AS sy,
                       sum(c * mr2x * mr2x)::BIGINT AS sxx,
                       sum(c * mr2y * mr2y)::BIGINT AS syy,
                       sum(c * mr2x * mr2y)::BIGINT AS sxy
                FROM cells JOIN xr USING (source, x)
                           JOIN yr USING (source, y)
                GROUP BY 1)
        SELECT source, n,
               CASE WHEN (n::DOUBLE * sxx::DOUBLE
                          - sx::DOUBLE * sx::DOUBLE) > 0
                     AND (n::DOUBLE * syy::DOUBLE
                          - sy::DOUBLE * sy::DOUBLE) > 0
                    THEN floor((n::DOUBLE * sxy::DOUBLE
                                - sx::DOUBLE * sy::DOUBLE)
                               / sqrt((n::DOUBLE * sxx::DOUBLE
                                       - sx::DOUBLE * sx::DOUBLE)
                                      * (n::DOUBLE * syy::DOUBLE
                                         - sy::DOUBLE * sy::DOUBLE))
                               * 1e6 + 0.5)::BIGINT
               END AS spearman_micro
        FROM mom""")),

    // PQ ASYMMETRIC-DISTANCE top-k (ADC, Jégou et al. 2011): corpus
    // vectors live only as their q134 codes; each query broadcasts an
    // m×ksub distance table and approximate distance = one equi-join +
    // integer sum of m lookups — the scoring regime a PQ-compressed ANN
    // index actually serves. Shares the q134 quantizer CTEs so the
    // codebooks cannot drift (Similarity.pqAdcTopK).
    "q158_pq_adc_topk" -> Q(
      (s, d) => Similarity.pqAdcTopK(Tables.embeddings(s, d), "vec_id",
        "embedding", dims = 64, m = 4, ksub = 8,
        queryPred = col("vec_id") % 25 === 0, k = 10),
      Some(s"""
        WITH $pqCtes,
        codes AS (SELECT vec_id, subspace, code FROM sse
                  QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
                                             ORDER BY sse_micro, code) = 1),
        qsubs AS (SELECT vec_id AS query_id, s, sub
                  FROM subs WHERE vec_id % 25 = 0),
        tbl AS (SELECT query_id, qsubs.s AS subspace, cc.c AS code,
                       floor(((list_dot_product(sub, sub)
                               - 2 * list_dot_product(sub, cc.cv))
                              + list_dot_product(cc.cv, cc.cv))
                             * 1e6 + 0.5)::BIGINT AS t_micro
                FROM qsubs JOIN cc ON cc.s = qsubs.s),
        adc AS (SELECT query_id, vec_id, sum(t_micro)::BIGINT AS adc_micro
                FROM codes JOIN tbl USING (subspace, code)
                WHERE vec_id <> query_id GROUP BY 1, 2)
        SELECT query_id, vec_id, adc_micro, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY adc_micro, vec_id) AS rank
              FROM adc)
        WHERE rank <= 10""")),

    // IVF-PQ ADC top-k (Jégou et al. 2011's full IVFADC, public): the
    // q158 ADC scorer behind the q43 coarse quantizer's cell pruning —
    // each query ADC-scores ONLY the codes in its nprobe best cells, the
    // composition that turns the exhaustive N·N_q ADC scan (measured
    // 226× wall at ×100 in the r11 study) into an nprobe·N/K-per-query
    // serving path. Shares both md5 quantizer families with q43/q158 so
    // neither codebook can drift (Similarity.ivfPqTopK).
    "q207_ivfpq_adc" -> Q(
      // √N coarse sizing (floor-held at 16 through n ≤ 512 — every
      // oracle scale): the fixed-16 registration measured 139× at ×100
      // (probed cells hold N/16 codes); see adaptiveCentroids
      (s, d) => Similarity.ivfPqTopKAuto(Tables.embeddings(s, d), "vec_id",
        "embedding", dims = 64, m = 4, ksub = 8, floorCentroids = 16, nprobe = 2,
        k = 10, queryPred = col("vec_id") % 25 === 0),
      Some(s"""
        WITH ${ivfAssignCtes(16, 64)},
        $ivfPqAdcCtes,
        probes AS (SELECT vec_id AS query_id, c AS cell
                   FROM scored_cells WHERE vec_id % 25 = 0
                   QUALIFY row_number() OVER (PARTITION BY vec_id
                                              ORDER BY ccos DESC, c) <= 2),
        adc AS (SELECT p.query_id, cwc.vec_id,
                       sum(t_micro)::BIGINT AS adc_micro
                FROM cwc JOIN probes p ON cwc.cell = p.cell
                JOIN tbl ON tbl.query_id = p.query_id
                        AND tbl.subspace = cwc.subspace
                        AND tbl.code = cwc.code
                WHERE cwc.vec_id <> p.query_id
                GROUP BY 1, 2)
        SELECT query_id, vec_id, adc_micro, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY adc_micro, vec_id) AS rank
              FROM adc)
        WHERE rank <= 10""")),

    // IVF-PQ RECALL-vs-NPROBE CURVE (VERDICT r12 #5): q185's tuning
    // sweep over the q207 IVFADC composition — recall@10 of the
    // cell-pruned ADC path at nprobe ∈ {1, 2, 4} against the EXACT
    // brute-force cosine truth, the end-to-end loss table (coarse
    // pruning + PQ compression together) a deployment reads before
    // picking its probe budget. The oracle replays the sweep from the
    // SAME ivfAssignCtes + ivfPqAdcCtes generators as q43/q207, so
    // neither codebook nor the probe order can drift. The sf0.01 curve
    // (85/80/75‰·10 at np=1/2/4) shows the real IVFADC trade the sweep
    // exists to surface: with UNTRAINED raw-subvector codebooks the ADC
    // ranker is lossy, so WIDENING the probe set lets misranked
    // candidates crowd truth out of top-k — the serving knob works
    // backwards. The fix is TRAINED codebooks on RESIDUALS (q218/q219,
    // r15 — the published IVFADC): q219's curve is non-decreasing and
    // dominates this one pointwise. This registration stays as the
    // what-goes-wrong-untrained control.
    "q213_ivfpq_recall_curve" -> Q(
      (s, d) => Similarity.ivfPqRecallCurve(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, m = 4, ksub = 8, centroids = 16,
        nprobes = Seq(1, 2, 4), k = 10, queryPred = col("vec_id") % 25 === 0),
      Some(s"""
        WITH ${ivfAssignCtes(16, 64)},
        $ivfPqAdcCtes,
        q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM en
              WHERE vec_id % 25 = 0),
        truth AS (SELECT query_id, en.vec_id
                  FROM q, en WHERE en.vec_id <> q.query_id
                  QUALIFY row_number() OVER (PARTITION BY query_id
                          ORDER BY round(list_dot_product(qv, v)
                                         / (qn * vn), 6) DESC,
                                   en.vec_id) <= 10),
        probes AS (SELECT np, query_id, cell
                   FROM (SELECT vec_id AS query_id, c AS cell,
                                row_number() OVER (PARTITION BY vec_id
                                                   ORDER BY ccos DESC, c) AS rn
                         FROM scored_cells WHERE vec_id % 25 = 0),
                        unnest([1, 2, 4]) un(np)
                   WHERE rn <= np),
        adc AS (SELECT p.np, p.query_id, cwc.vec_id,
                       sum(t_micro)::BIGINT AS adc_micro
                FROM cwc JOIN probes p ON cwc.cell = p.cell
                JOIN tbl ON tbl.query_id = p.query_id
                        AND tbl.subspace = cwc.subspace
                        AND tbl.code = cwc.code
                WHERE cwc.vec_id <> p.query_id
                GROUP BY 1, 2, 3),
        ranked AS (SELECT np, query_id, vec_id FROM adc
                   QUALIFY row_number() OVER (PARTITION BY np, query_id
                           ORDER BY adc_micro, vec_id) <= 10),
        hits AS (SELECT np, count(*)::BIGINT AS hit
                 FROM ranked JOIN truth USING (query_id, vec_id)
                 GROUP BY 1),
        nq AS (SELECT count(*)::BIGINT AS n FROM q)
        SELECT un.np AS nprobe, nq.n AS n_queries,
               coalesce(hits.hit, 0)::BIGINT AS hits,
               (nq.n * 10)::BIGINT AS possible,
               floor(coalesce(hits.hit, 0)::DOUBLE * 1e6
                     / (nq.n * 10)::DOUBLE + 0.5)::BIGINT AS recall_micro
        FROM unnest([1, 2, 4]) un(np)
        LEFT JOIN hits ON hits.np = un.np CROSS JOIN nq""")),

    // TRAINED-RESIDUAL IVFADC (VERDICT r14 #1 — the published Jégou et
    // al. 2011 configuration, both quantizers trained and PQ codes on
    // RESIDUALS x − q1(x)): coarse = 2 snapped Lloyd rounds (the q215
    // matrix), per-subspace PQ codebooks = 2 snapped residual-Lloyd
    // rounds against it, ADC tables per (query, probed cell). This is
    // what closes q213's falling curve: residuals are centered with
    // small spread, so 3 bits/subspace rank candidates correctly and
    // widening nprobe ADDS recall (q219 pins the non-decreasing curve).
    "q218_ivfpq_residual_trained" -> Q(
      (s, d) => Similarity.ivfPqResidualTrainedTopK(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, m = 4, ksub = 8, centroids = 16,
        coarseIters = 2, pqIters = 2, nprobe = 2, k = 10,
        queryPred = col("vec_id") % 25 === 0),
      Some(s"""
        WITH ${trainedAssignCtes(16, 64, 2)},
        ${pqResidualTrainCtes(4, 8, 16, 2)},
        pcells AS (SELECT query_id, cell
                   FROM (SELECT vec_id AS query_id, c AS cell,
                                row_number() OVER (PARTITION BY vec_id
                                                   ORDER BY ccos DESC, c) AS rn
                         FROM sc WHERE vec_id % 25 = 0)
                   WHERE rn <= 2),
        ${residualTableCtes(4, 16)},
        radc AS (SELECT t.query_id, rc.vec_id,
                        sum(t.t_micro)::BIGINT AS adc_micro
                 FROM rcodes rc
                 JOIN rtbl t ON t.cell = rc.cell
                            AND t.subspace = rc.subspace
                            AND t.code = rc.code
                 WHERE rc.vec_id <> t.query_id
                 GROUP BY 1, 2)
        SELECT query_id, vec_id, adc_micro, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY adc_micro, vec_id) AS rank
              FROM radc)
        WHERE rank <= 10""")),

    // RECALL-vs-NPROBE CURVE of the trained-residual IVFADC (VERDICT
    // r14 #1's evidence row): same sweep as q213 over the q218
    // configuration. The point of publishing BOTH curves: q213
    // (raw-subvector formula codebooks) FALLS as nprobe widens — the
    // serving knob works backwards — while this one is non-decreasing
    // AND higher at every point (sf0.01: 11.5/13.5/14.5% vs
    // 8.5/8.0/7.5%), the signature that the ADC ranker now orders the
    // extra candidates correctly. A deployment reads this table to
    // pick its probe budget; q213 stays registered as the
    // what-goes-wrong-untrained control.
    "q219_ivfpq_residual_recall" -> Q(
      (s, d) => Similarity.ivfPqResidualRecallCurve(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, m = 4, ksub = 8, centroids = 16,
        coarseIters = 2, pqIters = 2, nprobes = Seq(1, 2, 4), k = 10,
        queryPred = col("vec_id") % 25 === 0),
      Some(s"""
        WITH ${trainedAssignCtes(16, 64, 2)},
        ${pqResidualTrainCtes(4, 8, 16, 2)},
        q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM en
              WHERE vec_id % 25 = 0),
        truth AS (SELECT query_id, en.vec_id
                  FROM q, en WHERE en.vec_id <> q.query_id
                  QUALIFY row_number() OVER (PARTITION BY query_id
                          ORDER BY round(list_dot_product(qv, v)
                                         / (qn * vn), 6) DESC,
                                   en.vec_id) <= 10),
        qprobes AS (SELECT np, query_id, cell
                    FROM (SELECT vec_id AS query_id, c AS cell,
                                 row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY ccos DESC, c) AS rn
                          FROM sc WHERE vec_id % 25 = 0),
                         unnest([1, 2, 4]) un(np)
                    WHERE rn <= np),
        pcells AS (SELECT DISTINCT query_id, cell FROM qprobes),
        ${residualTableCtes(4, 16)},
        radc AS (SELECT p.np, p.query_id, rc.vec_id,
                        sum(t.t_micro)::BIGINT AS adc_micro
                 FROM rcodes rc
                 JOIN qprobes p ON p.cell = rc.cell
                 JOIN rtbl t ON t.query_id = p.query_id
                            AND t.cell = rc.cell
                            AND t.subspace = rc.subspace
                            AND t.code = rc.code
                 WHERE rc.vec_id <> p.query_id
                 GROUP BY 1, 2, 3),
        ranked AS (SELECT np, query_id, vec_id FROM radc
                   QUALIFY row_number() OVER (PARTITION BY np, query_id
                           ORDER BY adc_micro, vec_id) <= 10),
        hits AS (SELECT np, count(*)::BIGINT AS hit
                 FROM ranked JOIN truth USING (query_id, vec_id)
                 GROUP BY 1),
        nq AS (SELECT count(*)::BIGINT AS n FROM q)
        SELECT un.np AS nprobe, nq.n AS n_queries,
               coalesce(hits.hit, 0)::BIGINT AS hits,
               (nq.n * 10)::BIGINT AS possible,
               floor(coalesce(hits.hit, 0)::DOUBLE * 1e6
                     / (nq.n * 10)::DOUBLE + 0.5)::BIGINT AS recall_micro
        FROM unnest([1, 2, 4]) un(np)
        LEFT JOIN hits ON hits.np = un.np CROSS JOIN nq""")),

    // TWO-STAGE RECALL-vs-NPROBE CURVE (r17, the q219 sibling over the
    // q225 path): recall@10 of ADC-shortlist → exact-re-rank at
    // nprobe ∈ {1, 2, 4} against brute-force truth — the oracle-checked
    // form of the ×100 composition evidence (SCALE.md §10 r17
    // addendum: the two knobs stack because re-ranking makes every
    // candidate a wider probe admits orderable). Publishing this
    // beside q219 gives a deployment the full two-dial table: widening
    // nprobe grows the reachable pool, re-ranking orders it — this
    // curve is non-decreasing AND dominates q219's pointwise.
    "q228_ivfpq_rerank_recall" -> Q(
      // shortlist = 100 since r18: the re-rank-in-the-loop sweep
      // (SCALE.md §10 r18 addendum) measured R=100 as the knee —
      // R=50 leaves 3 recall points on the table at equal wall
      (s, d) => Similarity.ivfPqResidualRerankRecallCurve(
        Tables.embeddings(s, d), "vec_id", "embedding", dims = 64, m = 4,
        ksub = 8, centroids = 16, coarseIters = 2, pqIters = 2,
        nprobes = Seq(1, 2, 4), shortlist = 100, k = 10,
        queryPred = col("vec_id") % 25 === 0),
      Some(s"""
        WITH ${trainedAssignCtes(16, 64, 2)},
        ${pqResidualTrainCtes(4, 8, 16, 2)},
        q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM en
              WHERE vec_id % 25 = 0),
        truth AS (SELECT query_id, en.vec_id
                  FROM q, en WHERE en.vec_id <> q.query_id
                  QUALIFY row_number() OVER (PARTITION BY query_id
                          ORDER BY round(list_dot_product(qv, v)
                                         / (qn * vn), 6) DESC,
                                   en.vec_id) <= 10),
        qprobes AS (SELECT np, query_id, cell
                    FROM (SELECT vec_id AS query_id, c AS cell,
                                 row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY ccos DESC, c) AS rn
                          FROM sc WHERE vec_id % 25 = 0),
                         unnest([1, 2, 4]) un(np)
                    WHERE rn <= np),
        pcells AS (SELECT DISTINCT query_id, cell FROM qprobes),
        ${residualTableCtes(4, 16)},
        radc AS (SELECT p.np, p.query_id, rc.vec_id,
                        sum(t.t_micro)::BIGINT AS adc_micro
                 FROM rcodes rc
                 JOIN qprobes p ON p.cell = rc.cell
                 JOIN rtbl t ON t.query_id = p.query_id
                            AND t.cell = rc.cell
                            AND t.subspace = rc.subspace
                            AND t.code = rc.code
                 WHERE rc.vec_id <> p.query_id
                 GROUP BY 1, 2, 3),
        short AS (SELECT np, query_id, vec_id FROM radc
                  QUALIFY row_number() OVER (PARTITION BY np, query_id
                          ORDER BY adc_micro, vec_id) <= 100),
        rr AS (SELECT np, query_id, vec_id
               FROM (SELECT s.np, s.query_id, s.vec_id,
                            row_number() OVER (PARTITION BY s.np, s.query_id
                              ORDER BY round(list_dot_product(q.qv, e.v)
                                             / (q.qn * e.vn), 6) DESC,
                                       s.vec_id) AS rank
                     FROM short s JOIN en e ON e.vec_id = s.vec_id
                     JOIN q ON q.query_id = s.query_id)
               WHERE rank <= 10),
        hits AS (SELECT np, count(*)::BIGINT AS hit
                 FROM rr JOIN truth USING (query_id, vec_id)
                 GROUP BY 1),
        nq AS (SELECT count(*)::BIGINT AS n FROM q)
        SELECT un.np AS nprobe, nq.n AS n_queries,
               coalesce(hits.hit, 0)::BIGINT AS hits,
               (nq.n * 10)::BIGINT AS possible,
               floor(coalesce(hits.hit, 0)::DOUBLE * 1e6
                     / (nq.n * 10)::DOUBLE + 0.5)::BIGINT AS recall_micro
        FROM unnest([1, 2, 4]) un(np)
        LEFT JOIN hits ON hits.np = un.np CROSS JOIN nq""")),

    // TWO-STAGE RETRIEVAL (VERDICT r16 #1 — ADC shortlist → exact
    // re-rank, the standard IVFADC serving fix): the q218 trained-
    // residual path ADC top-R shortlist, then exact cosine on the RAW
    // vectors of the shortlist, top-10. The r16 codebook-bits sweep
    // pinned the honest ceiling of one-stage ADC (12% recall@10 at the
    // 32-bit knee); re-ranking recovers the ADC-misranking loss INSIDE
    // the candidate pool at |queries|×R extra exact dots — the
    // remaining loss is coarse pruning only (nprobe's knob, q219).
    // Registered at nprobe=4, R=100 since r18 (VERDICT r17 #1): the
    // re-rank-in-the-loop sweep (SCALE.md §10 r18 addendum) moved the
    // binding knobs from code bits to (nprobe, shortlist) — at ×100,
    // np4/R100 serves 30.6% vs np2/R50's 21.4% for +0.5 s, and the
    // bits curve flattens (m8k8 ≡ m8k16 once re-ranked).
    // Shortlist + ranking replay the q218 oracle CTEs; the re-rank is
    // q38's exact-cosine convention (round 6, ties to vec_id), so the
    // two stages cannot drift from their one-stage siblings.
    "q225_ivfpq_rerank" -> Q(
      (s, d) => Similarity.ivfPqResidualRerankTopK(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, m = 4, ksub = 8, centroids = 16,
        coarseIters = 2, pqIters = 2, nprobe = 4, shortlist = 100, k = 10,
        queryPred = col("vec_id") % 25 === 0),
      Some(s"""
        WITH ${trainedAssignCtes(16, 64, 2)},
        ${pqResidualTrainCtes(4, 8, 16, 2)},
        pcells AS (SELECT query_id, cell
                   FROM (SELECT vec_id AS query_id, c AS cell,
                                row_number() OVER (PARTITION BY vec_id
                                                   ORDER BY ccos DESC, c) AS rn
                         FROM sc WHERE vec_id % 25 = 0)
                   WHERE rn <= 4),
        ${residualTableCtes(4, 16)},
        radc AS (SELECT t.query_id, rc.vec_id,
                        sum(t.t_micro)::BIGINT AS adc_micro
                 FROM rcodes rc
                 JOIN rtbl t ON t.cell = rc.cell
                            AND t.subspace = rc.subspace
                            AND t.code = rc.code
                 WHERE rc.vec_id <> t.query_id
                 GROUP BY 1, 2),
        short AS (SELECT query_id, vec_id FROM radc
                  QUALIFY row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_micro, vec_id) <= 100),
        q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM en
              WHERE vec_id % 25 = 0)
        SELECT query_id, vec_id, cosine, rank
        FROM (SELECT s.query_id, s.vec_id,
                     round(list_dot_product(q.qv, e.v) / (q.qn * e.vn), 6)
                       AS cosine,
                     row_number() OVER (PARTITION BY s.query_id
                       ORDER BY round(list_dot_product(q.qv, e.v)
                                      / (q.qn * e.vn), 6) DESC,
                                s.vec_id) AS rank
              FROM short s JOIN en e ON e.vec_id = s.vec_id
              JOIN q ON q.query_id = s.query_id)
        WHERE rank <= 10""")),

    // TRAINED LANGUAGE-ID (VERDICT r14 #5; width adjudicated r15 #6 /
    // r16): multinomial NB on CHAR 4-grams, labels from the corpus
    // `lang` column — the q133 model core over the standard langid
    // feature family — rolled up as the q194 confusion census so the
    // trained model and the q33 marker-word heuristic are comparable
    // table for table. WIDTH = 4 is the measured knee (r16, VERDICT
    // r15 #5): the prescribed mixed {2,3,4} beat the 3-gram diagonal
    // (319 vs 288 of 500) but at 3× the gram extent, while single-
    // width 4 reaches 375/500 at the SAME extent as 3 — and a held-out
    // even/odd split ranks every mix below its widest member, so the
    // mixing machinery (charLangIdConfusionMixed, width-prefixed
    // kernels) stays spec-pinned capability and the registered face
    // takes the width. Argmax ties to the greater label (q133).
    "q220_langid_trained" -> Q(
      (s, d) => Classify.charLangIdConfusion(Tables.documents(s, d),
        "doc_id", "text", "lang", n = 4),
      Some(s"""
        WITH cgt AS (SELECT doc_id, lang AS label_true,
                            unnest([substr(text, i, 4)
                                    for i in range(1, length(text) - 2)]) AS term
                     FROM documents),
        cgctl AS (SELECT label_true AS label, term, count(*)::BIGINT AS c_tl
                  FROM cgt GROUP BY 1, 2),
        cglabels AS (SELECT lang AS label, count(*)::BIGINT AS n_docs,
                            sum(greatest(length(text) - 3, 0))::BIGINT AS t_l
                     FROM documents GROUP BY 1),
        cgnall AS (SELECT count(*)::BIGINT AS n_all FROM documents),
        cgvc AS (SELECT count(DISTINCT term)::BIGINT AS v FROM cgctl),
        cggrid AS (
          SELECT t.term, l.label,
                 floor((ln(coalesce(c.c_tl, 0)::DOUBLE + 1.0)
                        - ln((l.t_l + cgvc.v)::DOUBLE)) * 1e6 + 0.5)::BIGINT
                   AS s_micro
          FROM (SELECT DISTINCT term FROM cgctl) t
          CROSS JOIN cglabels l
          LEFT JOIN cgctl c ON c.term = t.term AND c.label = l.label
          CROSS JOIN cgvc),
        cgpriors AS (
          SELECT label,
                 floor((ln(n_docs::DOUBLE) - ln(n_all::DOUBLE)) * 1e6 + 0.5)::BIGINT
                   AS prior_micro
          FROM cglabels CROSS JOIN cgnall),
        cgsc AS (SELECT tk.doc_id, tk.label_true, g.label,
                        sum(g.s_micro)::BIGINT AS ll_micro
                 FROM cgt tk JOIN cggrid g USING (term)
                 GROUP BY 1, 2, 3),
        cgtot AS (SELECT doc_id, label_true, label AS cand,
                         ll_micro + p.prior_micro AS total
                  FROM cgsc JOIN cgpriors p USING (label)),
        cgpred AS (SELECT label_true AS label, cand AS pred FROM cgtot
                   QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY total DESC, cand DESC) = 1),
        cgcells AS (SELECT label, pred, count(*)::BIGINT AS n
                    FROM cgpred GROUP BY 1, 2),
        cgrt AS (SELECT label, sum(n)::BIGINT AS rt FROM cgcells GROUP BY 1),
        cgct AS (SELECT pred, sum(n)::BIGINT AS ct FROM cgcells GROUP BY 1)
        SELECT label, pred AS pred_lang, n,
               floor(n::DOUBLE * 1e6 / rt::DOUBLE + 0.5)::BIGINT
                 AS row_share_micro,
               floor(n::DOUBLE * 1e6 / ct::DOUBLE + 0.5)::BIGINT
                 AS col_share_micro
        FROM cgcells JOIN cgrt USING (label) JOIN cgct USING (pred)""")),

    // TRAINED-BPE TOKENIZATION END TO END (VERDICT r15 #1): train 12
    // merges on the corpus (q91's machinery), segment every document
    // with the trained merge list (the BpeSpec-pinned kernel chain),
    // assign trained-vocabulary subword ids (count desc, subword asc —
    // q72's determinism), and pack the subword stream per language
    // shard (q59's window) — the full tokenize half of a pretraining
    // pipeline as ONE oracle row per subword occurrence. The oracle
    // unrolls the 12 training rounds + 12 segmentation applications
    // textually (bpeTokenizePackCtes — the paren-encoded replace gives
    // exactly the kernel's greedy non-overlapping semantics).
    "q221_bpe_tokenize_pack" -> Q(
      (s, d) => graft.text.Bpe.tokenizePack(Tables.documents(s, d),
        "doc_id", "text", "lang", numMerges = 12, blockTokens = 256),
      Some(s"""
        WITH ${bpeTokenizePackCtes(12)}
        SELECT t.doc_id, o.shard, t.pos, t.subword, v.token_id,
               (o.start_tok + t.pos)::BIGINT AS global_tok,
               ((o.start_tok + t.pos) // 256)::BIGINT AS chunk
        FROM bptok t JOIN bpoff o USING (doc_id)
        JOIN bpvocab v USING (subword)""")),

    // TOKENIZER FERTILITY + COMPRESSION (r16, the q221 chain's eval
    // face): per language shard, subwords-per-word and chars-per-
    // subword of the SAME 12-merge trained tokenizer — the standard
    // cross-lingual tokenizer-quality census (a tokenizer trained on a
    // skewed mix over-segments under-represented shards; fertility is
    // the number that shows it). Oracle reuses bpeTokenizePackCtes —
    // one generator for the trained chain, zero drift.
    "q223_bpe_fertility" -> Q(
      (s, d) => graft.text.Bpe.fertility(Tables.documents(s, d),
        "doc_id", "text", "lang", numMerges = 12),
      Some(s"""
        WITH ${bpeTokenizePackCtes(12)},
        fw AS (SELECT d.lang AS shard, count(*)::BIGINT AS n_words
               FROM bpd12 b JOIN documents d USING (doc_id) GROUP BY 1),
        fsub AS (SELECT d.lang AS shard, count(*)::BIGINT AS n_subwords,
                        sum(length(s.subword))::BIGINT AS n_chars
                 FROM bpsub s JOIN documents d USING (doc_id) GROUP BY 1)
        SELECT shard, n_words, n_subwords, n_chars,
               floor(n_subwords::DOUBLE * 1e6 / n_words::DOUBLE + 0.5)::BIGINT
                 AS fertility_micro,
               floor(n_chars::DOUBLE * 1e6 / n_subwords::DOUBLE + 0.5)::BIGINT
                 AS chars_per_subword_micro
        FROM fw JOIN fsub USING (shard)""")),

    // HTML MAIN-CONTENT EXTRACTION (VERDICT r15 #3): the first stage
    // of a web-crawl pipeline — wrap each document in the deterministic
    // boilerplate fixture (Html.fixtureSql, ONE fragment valid in both
    // engines: head with style + a script whose body embeds a fake <p>
    // trap, link-dense nav, h1, the text as two paragraphs with an
    // inline anchor, an "ads" stub, a link-heavy footer), then extract:
    // tag-strip, block-segment, jusText-style classify (≥20 chars AND
    // link density ≤ 1/3). Engine side is a single-pass typed map (the
    // multimodal-codec precedent — per-row, no shuffle); the oracle
    // replays the same pipeline with regexes. Output per doc: block
    // census, main-content ratio, and the extracted main text itself.
    "q222_html_extract" -> Q(
      (s, d) => graft.text.Html.mainContent(
        Tables.documents(s, d).withColumn("html",
          expr(graft.text.Html.fixtureSql)),
        "doc_id", "html"),
      Some(s"""
        WITH $htmlExtractCtes
        SELECT doc_id,
               count(*)::BIGINT AS n_blocks,
               count(*) FILTER (is_content)::BIGINT AS n_content,
               coalesce(sum(n) FILTER (is_content), 0)::BIGINT AS content_chars,
               sum(n)::BIGINT AS total_chars,
               floor(coalesce(sum(n) FILTER (is_content), 0)::DOUBLE * 1e6
                     / sum(n)::DOUBLE + 0.5)::BIGINT AS ratio_micro,
               coalesce(string_agg(t, chr(10) ORDER BY bi)
                        FILTER (is_content), '') AS main_text
        FROM hb GROUP BY doc_id""")),

    // CROSS-DOCUMENT LINE-FREQUENCY boilerplate removal (r16 — the
    // CCNet/RefinedWeb stage composed onto q222): the fixture plants a
    // content-LOOKING boilerplate line ("subscribe to our newsletter…")
    // that passes the length/link-density classifier in EVERY document;
    // this stage drops it by document frequency (line in > 9 docs) and
    // keeps the genuinely per-document lines, re-joined in order. Two
    // exchanges: a line-hash-keyed document-frequency aggregate and the
    // doc-keyed re-aggregation (order restored by an in-aggregate
    // array_sort, no window).
    "q224_line_boilerplate" -> Q(
      (s, d) => graft.text.TextOps.lineFrequencyFilter(
        graft.text.Html.mainContent(
          Tables.documents(s, d).withColumn("html",
            expr(graft.text.Html.fixtureSql)),
          "doc_id", "html")
          .select(col("doc_id"), col("main_text")),
        "doc_id", "main_text", maxDocFreq = 9L),
      Some(s"""
        WITH $htmlExtractCtes,
        lfd AS (SELECT t, count(DISTINCT doc_id)::BIGINT AS line_df
                FROM hb WHERE is_content GROUP BY t)
        SELECT h.doc_id,
               count(*)::BIGINT AS n_lines,
               count(*) FILTER (d.line_df <= 9)::BIGINT AS n_kept,
               coalesce(string_agg(h.t, chr(10) ORDER BY h.bi)
                        FILTER (d.line_df <= 9), '') AS kept_text
        FROM hb h JOIN lfd d USING (t)
        WHERE h.is_content
        GROUP BY h.doc_id""")),

    // CRAWL CAPSTONE (VERDICT r16 #3): the end-to-end web-crawl
    // curation pipeline as ONE oracle-checked dataflow — what q61 is
    // for labeled text, over the raw-HTML input the r16 stages built:
    // HTML main-content extraction (q222) → cross-document line-
    // frequency boilerplate removal (q224) → language-ID over the
    // CLEANED text (q33 — crawl data has no lang labels; the predicted
    // lang becomes the shard key) → quality gate (q34) → exact dedup
    // (q32) → near-dup drop (q35+q42, J ≥ 0.5) → per-shard sequence
    // packing (q59). Stage ORDER is load-bearing (PLANS.md q226
    // audit): boilerplate removal runs BEFORE langid/quality (repeated
    // template lines distort marker counts and stopword density) and
    // BEFORE near-dup (a boilerplate line shared by every document
    // inflates shingle Jaccard and would glue unrelated docs into one
    // cluster — removing it first is what makes J ≥ 0.5 mean content
    // similarity); packing last (offsets depend on every upstream
    // drop). Newlines in kept_text are re-joined with spaces so the
    // downstream token grammar (split on spaces, both engines) sees
    // clean word boundaries.
    // Builder body factored into graft.pipeline.CrawlCurate (r18, the
    // incremental-capstone work): oneShot is this exact stage chain —
    // extract → line-df filter (checkpoint) → langid+quality attrs →
    // gate → exact dedup (checkpoint) → LSH pairs over survivors'
    // signatures → cluster drop → pack — and the curatedCrawlTick read
    // face re-curates the SAME curate() tail from persisted attrs, so
    // the one-shot and the tick cannot drift (StreamingSpec pins them
    // bit-exact).
    "q226_crawl_pipeline" -> Q(
      (s, d) => graft.pipeline.CrawlCurate.oneShot(
        Tables.documents(s, d)
          .withColumn("html", expr(graft.text.Html.fixtureSql))
          .select(col("doc_id"), col("html"))),
      Some(crawlPipelineOracle("", "documents"))),

    // URL CANONICALIZATION + FUZZY-URL DEDUP (VERDICT r17 #7): the
    // crawl capstone's stage 0 — before any content stage runs, the
    // frontier dedups URLs, not documents. Canonicalization (lowercase
    // scheme/host, default-port strip, fragment drop, trailing-slash
    // trim, tracking-param removal, param SORT) is one deterministic
    // codegen string kernel; the dedup is NearDup.exactDedup's shape on
    // the fuzzy key (scheme→https, www. stripped). Fixture: five
    // spellings of the same page per 5-doc group (TextOps.urlFixtureSql,
    // shared-fragment so both engines synthesize identical inputs);
    // variants 0–3 must collapse to ONE group and variant 4 (root-path
    // resource) must survive alone — n_copies is the oracle-checked
    // proof that every rule fired.
    "q229_url_dedup" -> Q(
      (s, d) => graft.text.TextOps.urlDedup(
        Tables.documents(s, d)
          .withColumn("url", expr(graft.text.TextOps.urlFixtureSql)),
        "doc_id", "url"),
      Some(s"""
        WITH ${urlCanonCtes("documents")}
        SELECT canon_key,
               min(doc_id) AS keeper_id,
               min(canon_url) AS canon_url,
               count(*)::BIGINT AS n_copies
        FROM k GROUP BY canon_key""")),

    // FRONTIER → CAPSTONE COMPOSITION (r18, closing VERDICT r17 #7's
    // composition story as its own oracle face): a crawl pipeline
    // dedups its URL frontier BEFORE it fetches or curates — stage 0
    // (q229's fuzzy-URL keepers) feeds the full q226 capstone, and the
    // composition is semantically load-bearing: fewer docs change the
    // line-df truth (the planted template line's df halves), so the
    // boilerplate/dedup verdicts differ from q226-over-everything —
    // exactly why frontier dedup must run FIRST in a real crawl. Both
    // stages replay through the SAME shared generators (urlCanonCtes +
    // crawlPipelineOracle), one definition per rule.
    "q230_frontier_capstone" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("url", expr(graft.text.TextOps.urlFixtureSql))
        val keepers = graft.text.TextOps.urlDedup(docs, "doc_id", "url")
          .select(col("keeper_id").as("doc_id"))
        graft.pipeline.CrawlCurate.oneShot(
          docs.join(keepers, Seq("doc_id"), "left_semi")
            .withColumn("html", expr(graft.text.Html.fixtureSql))
            .select(col("doc_id"), col("html")))
      },
      Some(crawlPipelineOracle(
        s"""${urlCanonCtes("documents")},
        keep AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY canon_key),
        fdocs AS (SELECT d.* FROM documents d
                  JOIN keep USING (doc_id)),
""", "fdocs"))),

    // PER-HOST CRAWL BUDGET (VERDICT r18 #3): water-filling token
    // budgets over the CANONICAL HOST axis — the data-side counterpart
    // of the politeness-capped fetch pool (ingest/Fetch.scala:93's
    // bounded per-host concurrency): a crawl scheduler caps what each
    // host may contribute, small hosts keep everything, big hosts
    // truncate at the SOLVED common water level (Terms.waterfillBudget,
    // the q119 machinery on a parsed-URL axis — host extraction is
    // TextOps.urlHost, the same map-only codegen parse as q229's
    // canonicalization; this is the frontier composition's third
    // stage: canonicalize → dedup (q229/q230) → allocate). 20k binds
    // against this corpus at every SF. Host cardinality is
    // mixture-sized (2 per 5-doc fixture group), inside waterfill's
    // measured single-task-window contract.
    "q231_host_budget" -> Q(
      (s, d) => Terms.waterfillBudget(
          Tables.documents(s, d).withColumn("host",
            graft.text.TextOps.urlHost(
              expr(graft.text.TextOps.urlFixtureSql))),
          "text", "host", budget = 20000L)
        .withColumnRenamed("source", "host"),
      Some(s"""
        WITH ${urlCanonCtes("documents")},
        per AS (
          SELECT host, count(*)::BIGINT AS n_docs,
                 coalesce(sum(len($DUCK_TOKENS)), 0)::BIGINT AS tokens
          FROM c JOIN documents USING (doc_id)
          GROUP BY 1),
        ord AS (
          SELECT *, row_number() OVER (ORDER BY tokens, host) AS i,
                 sum(tokens) OVER (ORDER BY tokens, host
                                   ROWS UNBOUNDED PRECEDING) AS p,
                 count(*) OVER () AS n, sum(tokens) OVER () AS g
          FROM per),
        seg AS (
          SELECT *, min(CASE WHEN p + (n - i) * tokens >= 20000
                             THEN i END) OVER () AS i0
          FROM ord),
        capd AS (
          SELECT *, max(CASE WHEN i = i0 THEN
                   (20000 - (p - tokens))::DOUBLE / (n - i + 1)::DOUBLE
                 END) OVER () AS cap
          FROM seg)
        SELECT host, n_docs, tokens,
               CASE WHEN g <= 20000 THEN (-1)::BIGINT
                    ELSE floor(cap * 1e6 + 0.5)::BIGINT END AS cap_micro,
               CASE WHEN g <= 20000 THEN tokens * 1000000
                    ELSE floor(least(tokens::DOUBLE, cap) * 1e6 + 0.5)::BIGINT
               END AS alloc_micro
        FROM capd""")),

    // Per-source GINI of the term-frequency vector — token-mass
    // concentration from the count-of-counts histogram (rank blocks in
    // closed form, so the only window is over O(√T) cells; Gini is
    // tie-order invariant, making the block form exact)
    // (CorpusStats.giniTokenMass).
    "q161_token_gini" -> Q(
      (s, d) => CorpusStats.giniTokenMass(Tables.documents(s, d),
          "source", "text")
        .withColumnRenamed("grp", "source"),
      Some(s"""
        WITH tf AS (SELECT source, term, count(*)::BIGINT AS c
                    FROM (SELECT source, unnest($DUCK_TOKENS) AS term
                          FROM documents)
                    GROUP BY 1, 2),
        cc AS (SELECT source, c, count(*)::BIGINT AS m FROM tf GROUP BY 1, 2),
        wt AS (SELECT source, c, m,
                      sum(m) OVER (PARTITION BY source ORDER BY c
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW)::BIGINT AS cumm,
                      sum(m) OVER (PARTITION BY source)::BIGINT AS n,
                      sum(c * m) OVER (PARTITION BY source)::BIGINT AS t
               FROM cc)
        SELECT source, max(n)::BIGINT AS n_terms, max(t)::BIGINT AS t_tokens,
               floor(sum(c * m * (2 * (cumm - m) + m - n))::DOUBLE * 1e6
                     / (max(n)::DOUBLE * max(t)::DOUBLE) + 0.5)::BIGINT
                 AS gini_micro
        FROM wt GROUP BY 1""")),

    // BURSTINESS of the top-20 terms across sources (Fano factor
    // var/mean with zero cells included — the Church & Gale topical-
    // vs-filler signal; Fano ≈ 1 = Poisson-uniform, ≫ 1 = bursty)
    // (CorpusStats.tokenBurstiness).
    "q162_token_burstiness" -> Q(
      (s, d) => CorpusStats.tokenBurstiness(Tables.documents(s, d),
        "source", "text", topK = 20),
      Some(s"""
        WITH terms AS (SELECT source AS bin, unnest($DUCK_TOKENS) AS term
                       FROM documents),
        top AS (SELECT term, count(*)::BIGINT AS ctot FROM terms
                GROUP BY 1 ORDER BY ctot DESC, term LIMIT 20),
        bins AS (SELECT DISTINCT source AS bin FROM documents),
        pb AS (SELECT term, bin, count(*)::BIGINT AS c
               FROM terms JOIN (SELECT term FROM top) USING (term)
               GROUP BY 1, 2),
        grid AS (SELECT top.term, top.ctot, bins.bin,
                        coalesce(pb.c, 0)::BIGINT AS c
                 FROM top CROSS JOIN bins
                 LEFT JOIN pb USING (term, bin)),
        agg AS (SELECT term, ctot, count(*)::BIGINT AS b,
                       sum(c * c)::BIGINT AS s2
                FROM grid GROUP BY 1, 2)
        SELECT term, ctot AS total, b AS n_bins,
               floor((b * s2 - ctot * ctot)::DOUBLE * 1e6
                     / (b::DOUBLE * ctot::DOUBLE) + 0.5)::BIGINT AS fano_micro
        FROM agg""")),

    // ZIPF SLOPE: log-log least squares over the top-20 rank-frequency
    // points — the corpus-shape exponent (≈ −1 for natural text). The
    // regression frame is TakeOrdered-bounded; ln points micro-snap,
    // moments are exact integers (CorpusStats.zipfSlope).
    "q163_zipf_slope" -> Q(
      (s, d) => CorpusStats.zipfSlope(Tables.documents(s, d), "text",
        topN = 20),
      Some(s"""
        WITH tf AS (SELECT term, count(*)::BIGINT AS c
                    FROM (SELECT unnest($DUCK_TOKENS) AS term FROM documents)
                    GROUP BY 1),
        top AS (SELECT term, c FROM tf ORDER BY c DESC, term LIMIT 20),
        rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r
               FROM top),
        pts AS (SELECT floor(ln(r::DOUBLE) * 1e6 + 0.5)::BIGINT AS x,
                       floor(ln(c::DOUBLE) * 1e6 + 0.5)::BIGINT AS y
                FROM rk),
        mom AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                       sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
                       sum(x * x)::BIGINT AS sxx
                FROM pts)
        SELECT n,
               CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                         > 0
                    THEN floor((n::DOUBLE * sxy::DOUBLE
                                - sx::DOUBLE * sy::DOUBLE)
                               / (n::DOUBLE * sxx::DOUBLE
                                  - sx::DOUBLE * sx::DOUBLE)
                               * 1e6 + 0.5)::BIGINT
               END AS slope_micro
        FROM mom""")),

    // SPLIT-CONFORMAL novelty p-values: every non-calibration doc's
    // quality score ranked against the held-out calibration sample
    // (docs ≡ 0 mod 5) — p = (1 + #{cal ≤ s})/(n_cal + 1), the
    // finite-sample-valid outlier gate. The centi grid makes the rank
    // lookup one equi-join against a 101-row cumulative table
    // (Calibrate.conformalPValues).
    "q164_conformal_novelty" -> Q(
      (s, d) => Calibrate.conformalPValues(Tables.documents(s, d), "doc_id",
          col("doc_id") % 5 === 0,
          floor(TextOps.qualityScore(col("text")) * lit(100) + lit(0.5))
            .cast("long"))
        .withColumnRenamed("id", "doc_id"),
      Some(s"""
        WITH s AS (SELECT doc_id, doc_id % 5 = 0 AS is_cal,
                          floor(($qualitySql) * 100 + 0.5)::BIGINT AS sc
                   FROM documents),
        cells AS (SELECT sc, count(*)::BIGINT AS cm FROM s
                  WHERE is_cal GROUP BY 1),
        grid AS (SELECT r.range::BIGINT AS v FROM range(0, 101) r),
        cum AS (SELECT v,
                       sum(coalesce(cm, 0)) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       )::BIGINT AS cum_le
                FROM grid LEFT JOIN cells ON cells.sc = grid.v),
        nc AS (SELECT count(*)::BIGINT AS n_cal FROM s WHERE is_cal)
        SELECT id AS doc_id, sc AS score_centi, n_cal,
               floor((1 + cum_le)::DOUBLE * 1e6 / (n_cal + 1.0) + 0.5)::BIGINT
                 AS p_micro
        FROM (SELECT doc_id AS id, sc FROM s WHERE NOT is_cal) t
        JOIN cum ON t.sc = cum.v
        CROSS JOIN nc""")),

    // WELCH's t of each source vs the rest of the corpus (unequal
    // variances) on the centi-snapped quality score — the parametric
    // source-shift monitor. One aggregation of exact integer moments;
    // rest-of-corpus = global − group, no second scan
    // (Calibrate.welchTTest).
    "q165_source_ttest" -> Q(
      (s, d) => Calibrate.welchTTest(Tables.documents(s, d), "source",
          floor(TextOps.qualityScore(col("text")) * lit(100) + lit(0.5))
            .cast("long"))
        .withColumnRenamed("grp", "source"),
      Some(s"""
        WITH s AS (SELECT source, floor(($qualitySql) * 100 + 0.5)::BIGINT AS v
                   FROM documents),
        g AS (SELECT source, count(*)::BIGINT AS n1, sum(v)::BIGINT AS s1,
                     sum(v * v)::BIGINT AS q1
              FROM s GROUP BY 1),
        tot AS (SELECT count(*)::BIGINT AS nt, sum(v)::BIGINT AS st,
                       sum(v * v)::BIGINT AS qt
                FROM s),
        j AS (SELECT *, nt - n1 AS n2, st - s1 AS s2, qt - q1 AS q2
              FROM g CROSS JOIN tot),
        k AS (SELECT *,
                     sqrt(((q1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
                           / (n1::DOUBLE - 1.0)) / n1::DOUBLE
                          + ((q2::DOUBLE - s2::DOUBLE * s2::DOUBLE / n2::DOUBLE)
                             / (n2::DOUBLE - 1.0)) / n2::DOUBLE) AS se
              FROM j)
        SELECT source, n1 AS n_group, n2 AS n_rest,
               floor(s1::DOUBLE / n1::DOUBLE * 1e4 + 0.5)::BIGINT
                 AS mean_group_micro,
               floor(s2::DOUBLE / n2::DOUBLE * 1e4 + 0.5)::BIGINT
                 AS mean_rest_micro,
               CASE WHEN n1 >= 2 AND n2 >= 2 AND se > 0.0
                    THEN floor((s1::DOUBLE / n1::DOUBLE
                                - s2::DOUBLE / n2::DOUBLE) / se * 1e6
                               + 0.5)::BIGINT
               END AS t_micro
        FROM k""")),

    // MANN-WHITNEY rank-sum of each source vs the rest — the
    // distribution-free location test, ranks from the bounded global
    // histogram (doubled tie-averaged midranks, exact U2 integers,
    // tie-corrected normal z) (Calibrate.mannWhitney).
    "q166_source_ranksum" -> Q(
      (s, d) => Calibrate.mannWhitney(Tables.documents(s, d), "source",
          floor(TextOps.qualityScore(col("text")) * lit(100) + lit(0.5))
            .cast("long"))
        .withColumnRenamed("grp", "source"),
      Some(s"""
        WITH s AS (SELECT source, floor(($qualitySql) * 100 + 0.5)::BIGINT AS v
                   FROM documents),
        cells AS (SELECT source, v, count(*)::BIGINT AS c
                  FROM s GROUP BY 1, 2),
        vm AS (SELECT v, sum(c)::BIGINT AS cm FROM cells GROUP BY 1),
        vr AS (SELECT v,
                      2 * (sum(cm) OVER (ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - cm) + cm + 1 AS mr2
               FROM vm),
        tt AS (SELECT sum(cm * cm * cm - cm)::BIGINT AS tiesum,
                      sum(cm)::BIGINT AS ntot
               FROM vm),
        r2 AS (SELECT source, sum(c)::BIGINT AS n1,
                      sum(c * mr2)::BIGINT AS rr2
               FROM cells JOIN vr USING (v) GROUP BY 1),
        k AS (SELECT source, n1, ntot - n1 AS n2,
                     rr2 - n1 * (n1 + 1) AS u2, tiesum, ntot
              FROM r2 CROSS JOIN tt),
        z AS (SELECT *,
                     sqrt(n1::DOUBLE * n2::DOUBLE / 3.0
                          * ((ntot::DOUBLE + 1.0)
                             - tiesum::DOUBLE
                               / (ntot::DOUBLE * (ntot::DOUBLE - 1.0))))
                       AS sig
              FROM k)
        SELECT source, n1 AS n_group, n2 AS n_rest, u2,
               CASE WHEN n1 >= 1 AND n2 >= 1 AND sig > 0.0
                    THEN floor((u2::DOUBLE - n1::DOUBLE * n2::DOUBLE) / sig
                               * 1e6 + 0.5)::BIGINT
               END AS z_micro
        FROM z""")),

    // FDR-CONTROLLED anomaly gate: conformal p-values calibrated on the
    // trusted long-form slice (n_chars ≥ 300), then Benjamini-Hochberg
    // at α = 0.1 — "flag the docs that are anomalously low-quality
    // relative to the reference slice, with false-discovery control".
    // The BH order statistics live in the bounded p-histogram: no
    // corpus sort anywhere (Calibrate.conformalPValues → bhReject).
    "q167_fdr_anomalies" -> Q(
      (s, d) => {
        val p = Calibrate.conformalPValues(Tables.documents(s, d), "doc_id",
          col("n_chars") >= 300,
          floor(TextOps.qualityScore(col("text")) * lit(100) + lit(0.5))
            .cast("long"))
        Calibrate.bhReject(p, "id", col("p_micro"), alphaMicro = 100000L)
          .withColumnRenamed("id", "doc_id")
      },
      Some(s"""
        WITH s AS (SELECT doc_id, n_chars >= 300 AS is_cal,
                          floor(($qualitySql) * 100 + 0.5)::BIGINT AS sc
                   FROM documents),
        cells AS (SELECT sc, count(*)::BIGINT AS cm FROM s
                  WHERE is_cal GROUP BY 1),
        grid AS (SELECT r.range::BIGINT AS v FROM range(0, 101) r),
        cum AS (SELECT v,
                       sum(coalesce(cm, 0)) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       )::BIGINT AS cum_le
                FROM grid LEFT JOIN cells ON cells.sc = grid.v),
        nc AS (SELECT count(*)::BIGINT AS n_cal FROM s WHERE is_cal),
        pv AS (SELECT id AS doc_id,
                      floor((1 + cum_le)::DOUBLE * 1e6 / (n_cal + 1.0)
                            + 0.5)::BIGINT AS p_micro
               FROM (SELECT doc_id AS id, sc FROM s WHERE NOT is_cal) t
               JOIN cum ON t.sc = cum.v
               CROSS JOIN nc),
        pc AS (SELECT p_micro AS p, count(*)::BIGINT AS cm FROM pv
               GROUP BY 1),
        pcum AS (SELECT p,
                        sum(cm) OVER (ORDER BY p
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        )::BIGINT AS cum,
                        sum(cm) OVER ()::BIGINT AS m
                 FROM pc),
        thr AS (SELECT coalesce(max(CASE WHEN p * m <= 100000 * cum
                                         THEN p END), -1) AS thr_p,
                       coalesce(max(CASE WHEN p * m <= 100000 * cum
                                         THEN cum END), 0) AS n_rejected
                FROM pcum)
        SELECT doc_id, p_micro, p_micro <= thr_p AS rejected,
               thr_p AS threshold_p_micro, n_rejected
        FROM pv CROSS JOIN thr""")),

    // JOHNSON-LINDENSTRAUSS random projection to 16 dims via seeded
    // md5 planes — the dimensionality-reduction preprocessing of the
    // ANN stack, a zero-shuffle map-only pass whose output is the
    // reduced table (Similarity.jlProject; q169 measures what the 16
    // dims preserve).
    "q168_jl_projection" -> Q(
      (s, d) => Similarity.jlProject(Tables.embeddings(s, d), "vec_id",
        "embedding", dims = 64, k = 16),
      Some("""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                   FROM embeddings),
        planes AS (SELECT p,
                          [((('0x' || substr(md5('jl' || p || '_' || i), 1, 8))::BIGINT
                             / 2147483648.0) - 1.0) for i in range(0, 64)] AS pv
                   FROM (SELECT unnest(range(0, 16)) AS p))
        SELECT vec_id, p AS dim,
               floor(list_dot_product(v, pv) * 1e6 + 0.5)::BIGINT AS y_micro
        FROM e CROSS JOIN planes""")),

    // JL DISTORTION audit on hash-adjacent pairs: projected vs original
    // squared distance scaled by the 3/k plane-variance factor —
    // E[ratio] = 1; the spread is the evidence behind choosing k.
    // Per-plane squared diffs micro-snap before the k-term sum so the
    // SQL GROUP BY sum is order-free (Similarity.jlDistortion).
    "q169_jl_distortion" -> Q(
      (s, d) => Similarity.jlDistortion(Tables.embeddings(s, d), "vec_id",
        "embedding", dims = 64, k = 16),
      Some("""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                          ('0x' || substr(md5('jlpair|' || vec_id), 1, 8))::BIGINT
                            % 64 AS bucket
                   FROM embeddings),
        pr AS (SELECT vec_id AS id_a, v AS va,
                      lead(vec_id) OVER w AS id_b, lead(v) OVER w AS vb
               FROM e WINDOW w AS (PARTITION BY bucket ORDER BY vec_id)),
        pairs AS (SELECT id_a, id_b, va, vb,
                         floor(((list_dot_product(va, va)
                                 - 2 * list_dot_product(va, vb))
                                + list_dot_product(vb, vb)) * 1e6 + 0.5
                              )::BIGINT AS dorig_micro
                  FROM pr WHERE id_b IS NOT NULL),
        planes AS (SELECT p,
                          [((('0x' || substr(md5('jl' || p || '_' || i), 1, 8))::BIGINT
                             / 2147483648.0) - 1.0) for i in range(0, 64)] AS pv
                   FROM (SELECT unnest(range(0, 16)) AS p)),
        terms AS (SELECT id_a, id_b, dorig_micro,
                         floor((list_dot_product(va, pv)
                                - list_dot_product(vb, pv))
                               * (list_dot_product(va, pv)
                                  - list_dot_product(vb, pv))
                               * 1e6 + 0.5)::BIGINT AS tsq
                  FROM pairs CROSS JOIN planes),
        agg AS (SELECT id_a, id_b, dorig_micro,
                       sum(tsq)::BIGINT AS sproj_micro
                FROM terms GROUP BY 1, 2, 3)
        SELECT id_a, id_b, dorig_micro, sproj_micro,
               CASE WHEN dorig_micro > 0
                    THEN floor(sproj_micro::DOUBLE * 3.0
                               / (16.0 * dorig_micro::DOUBLE) * 1e6
                               + 0.5)::BIGINT
               END AS ratio_micro
        FROM agg""")),

    // QUERY-LIKELIHOOD retrieval with Dirichlet smoothing (Zhai &
    // Lafferty 2001, μ = 2000) — the language-modeling ranker beside
    // q65's BM25: sparse decomposition (query constant + length term +
    // present-term bonus), every component micro-snapped per term so
    // scores and ranks are engine-exact (Retrieval.qlDirichletTopK).
    "q172_ql_retrieval" -> Q(
      (s, d) => Retrieval.qlDirichletTopK(Tables.documents(s, d), "doc_id",
        "text", queryPred = col("doc_id") % 250 === 0, mu = 2000.0, k = 10),
      Some(s"""
        WITH toks AS (SELECT doc_id, unnest($DUCK_TOKENS) AS term
                      FROM documents),
        tf AS (SELECT doc_id, term, count(*)::BIGINT AS c
               FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
        coll AS (SELECT term, sum(c)::BIGINT AS ctf FROM tf GROUP BY 1),
        tt AS (SELECT sum(dl)::BIGINT AS t_total FROM dl),
        q AS (SELECT doc_id AS query_id FROM documents WHERE doc_id % 250 = 0),
        qtf AS (SELECT query_id, term, c AS qf FROM tf
                JOIN q ON tf.doc_id = q.query_id),
        qlen AS (SELECT query_id, dl.dl AS qlen FROM dl
                 JOIN q ON dl.doc_id = q.query_id),
        qc AS (SELECT query_id,
                      sum(floor(qf::DOUBLE
                                * ln(2000.0 * ctf::DOUBLE / t_total::DOUBLE)
                                * 1e6 + 0.5)::BIGINT)::BIGINT AS qconst_micro
               FROM qtf JOIN coll USING (term) CROSS JOIN tt GROUP BY 1),
        pres AS (SELECT query_id, tf.doc_id AS cand_id,
                        sum(floor(qf::DOUBLE
                                  * ln(1.0 + tf.c::DOUBLE * t_total::DOUBLE
                                       / (2000.0 * ctf::DOUBLE))
                                  * 1e6 + 0.5)::BIGINT)::BIGINT AS pm
                 FROM qtf JOIN tf USING (term) JOIN coll USING (term)
                 CROSS JOIN tt
                 WHERE tf.doc_id <> query_id GROUP BY 1, 2),
        grid AS (SELECT query_id, qconst_micro, qlen, dl.doc_id AS cand_id,
                        dl.dl
                 FROM qlen JOIN qc USING (query_id) CROSS JOIN dl
                 WHERE dl.doc_id <> query_id),
        scored AS (SELECT query_id, cand_id,
                          qconst_micro
                          - floor(qlen::DOUBLE * ln(dl::DOUBLE + 2000.0)
                                  * 1e6 + 0.5)::BIGINT
                          + coalesce(pm, 0) AS score_micro
                   FROM grid LEFT JOIN pres USING (query_id, cand_id))
        SELECT query_id, cand_id AS doc_id, score_micro, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score_micro DESC, cand_id) AS rank
              FROM scored)
        WHERE rank <= 10""")),

    // WEIGHTED (bag) JACCARD verification of the q35 LSH candidates:
    // Σ min(c_a, c_b)/Σ max(c_a, c_b) over token COUNTS — repetition-
    // aware similarity where set Jaccard saturates (a doc repeating a
    // template 10× vs once scores identically as a set). One side-
    // labeled union + two aggregations over the pair-bounded frame.
    "q173_bag_jaccard" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tf = docs.select(col("doc_id"),
            explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        val pairs = NearDup.minhashLshPairsFromRows(
            TextOps.wordShingleRows(docs, "doc_id", "text", 3),
            k = 16, bands = 8)
          .select(col("id_a"), col("id_b"))
        val aSide = pairs.join(tf, tf("doc_id") === pairs("id_a"))
          .select(col("id_a"), col("id_b"), col("term"),
            col("c").as("ca"), lit(0L).as("cb"))
        val bSide = pairs.join(tf, tf("doc_id") === pairs("id_b"))
          .select(col("id_a"), col("id_b"), col("term"),
            lit(0L).as("ca"), col("c").as("cb"))
        aSide.unionByName(bSide)
          .groupBy(col("id_a"), col("id_b"), col("term"))
          .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(sum(least(col("ca"), col("cb"))).as("inter_mass"),
            sum(greatest(col("ca"), col("cb"))).as("union_mass"))
          .withColumn("jw_micro",
            floor(col("inter_mass").cast("double") * lit(1e6)
              / col("union_mass").cast("double") + lit(0.5)).cast("long"))
      },
      Some(s"""
        WITH ${minhashCtes(16, 8)},
        tf AS (SELECT doc_id, term, count(*)::BIGINT AS c
               FROM (SELECT doc_id, unnest($DUCK_TOKENS) AS term
                     FROM documents)
               GROUP BY 1, 2),
        pr AS (SELECT id_a, id_b FROM cand),
        sides AS (SELECT id_a, id_b, term, c AS ca, 0::BIGINT AS cb
                  FROM pr JOIN tf ON tf.doc_id = pr.id_a
                  UNION ALL
                  SELECT id_a, id_b, term, 0::BIGINT, c
                  FROM pr JOIN tf ON tf.doc_id = pr.id_b),
        m AS (SELECT id_a, id_b, term, sum(ca)::BIGINT AS ca,
                     sum(cb)::BIGINT AS cb
              FROM sides GROUP BY 1, 2, 3)
        SELECT id_a, id_b,
               sum(least(ca, cb))::BIGINT AS inter_mass,
               sum(greatest(ca, cb))::BIGINT AS union_mass,
               floor(sum(least(ca, cb))::DOUBLE * 1e6
                     / sum(greatest(ca, cb))::DOUBLE + 0.5)::BIGINT
                 AS jw_micro
        FROM m GROUP BY 1, 2""")),

    // POPULATION STABILITY INDEX per source vs the corpus marginal
    // (text/Calibrate.scala) — the production drift score beside q132's
    // token-level KL: PSI over log₂ doc-length buckets, add-one smoothed
    // on a zero-cell-complete grid, per-bin terms micro-snapped. The
    // corpus pays one (group, bucket) aggregation; everything after is
    // (groups × ≤64 buckets)-bounded.
    "q176_psi_drift" -> Q(
      (s, d) => Calibrate.psiByGroup(Tables.documents(s, d), "source",
          col("n_chars"))
        .withColumnRenamed("grp", "source"),
      Some("""
        WITH b AS (SELECT source AS grp,
                          CASE WHEN n_chars <= 0 THEN 0
                               ELSE length(bin(n_chars)) END::BIGINT AS bucket
                   FROM documents),
        cg AS (SELECT grp, bucket, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
        g AS (SELECT grp, sum(c)::BIGINT AS n_g FROM cg GROUP BY 1),
        bk AS (SELECT bucket, sum(c)::BIGINT AS c_all FROM cg GROUP BY 1),
        nb AS (SELECT count(*)::BIGINT AS b, sum(c_all)::BIGINT AS n_all
               FROM bk),
        grid AS (SELECT g.grp, g.n_g, bk.bucket, bk.c_all,
                        coalesce(cg.c, 0)::BIGINT AS c
                 FROM g CROSS JOIN bk
                 LEFT JOIN cg ON cg.grp = g.grp AND cg.bucket = bk.bucket)
        SELECT grp AS source, n_g,
               sum(floor(((c + 1)::DOUBLE / (n_g + b)::DOUBLE
                          - (c_all + 1)::DOUBLE / (n_all + b)::DOUBLE)
                         * ln(((c + 1)::DOUBLE / (n_g + b)::DOUBLE)
                              / ((c_all + 1)::DOUBLE / (n_all + b)::DOUBLE))
                         * 1e6 + 0.5)::BIGINT)::BIGINT AS psi_micro
        FROM grid CROSS JOIN nb GROUP BY 1, 2""")),

    // ISOTONIC CALIBRATION via PAVA (VERDICT r12 #7 — the last
    // spec-only operator gains its oracle row): best monotone map from
    // the doc-length centi-bucket (n_chars div 100 — non-monotone
    // P(en) per bucket at EVERY test SF, so pooling genuinely binds;
    // the coarser log₂ bucket pooled to one trivial block) to
    // P(lang = en). Engine: one corpus aggregation to the bounded cell
    // histogram + the driver-walk PAVA (exact cross-mult pooling,
    // canonical strictly-increasing blocks). Oracle: the fit's UNIQUE
    // fixed point has the minimax closed form
    // ŷ_i = max_{j≤i} min_{k≥i} rate(j..k) — quadratic in CELLS only,
    // rendered over interval prefix sums with an 18-digit fixed-point
    // HUGEINT rate key. That key is exact only while pairwise interval
    // ROW masses n_a·n_b < 1e18 — a bound on row COUNTS (holds for any
    // corpus under ~1e9 rows, since n_a·n_b ≤ N²), NOT something the
    // maxCells guard (which bounds the CELL count) enforces; a corpus
    // past ~1e9 rows needs cross-multiplied exact rationals here
    // instead of the floored key. Blocks = level sets of the fitted
    // value.
    "q212_isotonic_calibration" -> Q(
      (s, d) => Calibrate.isotonicFit(Tables.documents(s, d),
        scoreMicro = expr("n_chars div 100"),
        positive = col("lang") === lit("en")),
      Some("""
        WITH cells AS (
          SELECT (n_chars // 100)::BIGINT AS s,
                 count(*)::BIGINT AS n,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos
          FROM documents GROUP BY 1),
        ord AS (SELECT s, n, pos, row_number() OVER (ORDER BY s) AS idx
                FROM cells),
        cum AS (SELECT idx, s, n, pos,
                       sum(n) OVER (ORDER BY idx) AS cn,
                       sum(pos) OVER (ORDER BY idx) AS cpos
                FROM ord),
        ivq AS (SELECT a.idx AS j, b.idx AS k,
                       ((b.cpos - a.cpos + a.pos)::HUGEINT
                        * 1000000000000000000)
                         // (b.cn - a.cn + a.n)::HUGEINT AS q
                FROM cum a JOIN cum b ON a.idx <= b.idx),
        mn AS (SELECT o.idx AS i, v.j, min(v.q) AS mq
               FROM ord o JOIN ivq v ON v.j <= o.idx AND v.k >= o.idx
               GROUP BY 1, 2),
        fit AS (SELECT i, max(mq) AS fq FROM mn GROUP BY 1),
        marks AS (SELECT i,
                         CASE WHEN fq = lag(fq) OVER (ORDER BY i) THEN 0
                              ELSE 1 END AS brk
                  FROM fit),
        grps AS (SELECT i, sum(brk) OVER (ORDER BY i) AS g FROM marks)
        SELECT min(o.s) AS score_lo, max(o.s) AS score_hi,
               sum(o.n)::BIGINT AS n, sum(o.pos)::BIGINT AS pos,
               floor(sum(o.pos)::DOUBLE * 1e6 / sum(o.n)::DOUBLE
                     + 0.5)::BIGINT AS rate_micro
        FROM grps JOIN ord o ON o.idx = grps.i
        GROUP BY g""")),

    // NB MARGIN-CALIBRATION TABLE (text/Classify.scala): per log₂
    // confidence-margin bucket, the classifier's empirical accuracy —
    // the reliability diagram for a log-space classifier. Shares the
    // nbCtes model chain with q133 so the formula cannot drift; top-1
    // and runner-up via two argmax passes, no per-doc window sort.
    "q177_margin_calibration" -> Q(
      (s, d) => Classify.nbMarginCalibration(Tables.documents(s, d),
        "doc_id", "text", "lang"),
      Some(s"""
        WITH $nbCtes,
        ranked AS (SELECT doc_id, label_true, cand, total,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY total DESC, cand DESC)
                            AS rn
                   FROM tot),
        m AS (SELECT b.doc_id, b.label_true, b.cand AS pred,
                     b.total - s.total AS margin
              FROM ranked b JOIN ranked s
                ON b.doc_id = s.doc_id AND b.rn = 1 AND s.rn = 2),
        bb AS (SELECT CASE WHEN margin <= 0 THEN 0
                           ELSE length(bin(margin)) END::BIGINT AS bucket,
                      (pred = label_true)::INT AS ok
               FROM m)
        SELECT bucket, count(*)::BIGINT AS n, sum(ok)::BIGINT AS n_correct,
               floor(sum(ok)::DOUBLE * 1e6 / count(*)::DOUBLE + 0.5)::BIGINT
                 AS acc_micro
        FROM bb GROUP BY 1""")),

    // LINEAR-KERNEL MMD² MATRIX between label populations: the
    // two-sample drift statistic ||μ_a − μ_b||² over the q126 centroid
    // frame (micro-snapped half-up integer means, so the squared-diff
    // sum is exact), one row per unordered label pair — "which cohorts
    // moved apart" read at a glance. Linear-kernel MMD² IS the centroid
    // distance (Gretton et al. 2012 reduces to it for k(x,y)=x·y), so
    // the cost is one corpus scan + a label×dims-bounded self-join.
    "q178_mmd_matrix" -> Q(
      (s, d) => {
        val ex = Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .withColumn("xm",
            floor(col("x").cast("double") * lit(1e6) + lit(0.5)).cast("long"))
        val comp = ex.groupBy("label", "pos").agg(
            sum(col("xm")).as("smm"), count(lit(1)).as("n"))
          .withColumn("mm",
            floor(col("smm").cast("double") / col("n").cast("double") + lit(0.5))
              .cast("long"))
          .select(col("label"), col("pos"), col("mm"))
        val a = comp.select(col("label").as("label_a"), col("pos"),
          col("mm").as("ma"))
        val b = comp.select(col("label").as("label_b"), col("pos"),
          col("mm").as("mb"))
        a.join(b, Seq("pos")).filter(col("label_a") < col("label_b"))
          .groupBy(col("label_a"), col("label_b"))
          .agg(sum((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("d2"))
          .withColumn("dist_micro",
            floor(sqrt(col("d2").cast("double")) + lit(0.5)).cast("long"))
      },
      Some("""
        WITH ex AS (
          SELECT label, vec_id, pos,
                 floor(embedding[pos]::DOUBLE * 1e6 + 0.5)::BIGINT AS xm
          FROM embeddings, unnest(range(1, len(embedding) + 1)) u(pos)),
        comp AS (
          SELECT label, pos,
                 floor(sum(xm)::DOUBLE / count(*)::DOUBLE + 0.5)::BIGINT AS mm
          FROM ex GROUP BY 1, 2),
        p AS (SELECT a.label AS label_a, b.label AS label_b,
                     sum((a.mm - b.mm) * (a.mm - b.mm))::BIGINT AS d2
              FROM comp a JOIN comp b
                ON a.pos = b.pos AND a.label < b.label
              GROUP BY 1, 2)
        SELECT label_a, label_b, d2,
               floor(sqrt(d2::DOUBLE) + 0.5)::BIGINT AS dist_micro
        FROM p""")),

    // SIMPLIFIED SILHOUETTE per IVF cell (sim/Similarity.scala): the
    // clustering-quality census of the q43 index's cell structure —
    // a/b distances read off the assignment kernel's existing ccos
    // array (no second scan), s = (b − a)/b micro-exact, per-cell mean.
    "q179_cell_silhouette" -> Q(
      (s, d) => Similarity.silhouetteByCell(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, centroids = 16),
      Some(s"""
        WITH ${ivfAssignCtes(16, 64)},
        ranked AS (SELECT vec_id, c, ccos,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY ccos DESC, c) AS rn
                   FROM scored_cells),
        ab AS (SELECT r1.vec_id, r1.c AS cell,
                      floor((1 - r1.ccos) * 1e6 + 0.5)::BIGINT AS am,
                      floor((1 - r2.ccos) * 1e6 + 0.5)::BIGINT AS bm
               FROM ranked r1 JOIN ranked r2
                 ON r1.vec_id = r2.vec_id AND r1.rn = 1 AND r2.rn = 2),
        sil AS (SELECT vec_id, cell,
                       CASE WHEN bm <= 0 THEN 0
                            ELSE floor((bm - am)::DOUBLE * 1e6 / bm::DOUBLE
                                       + 0.5) END::BIGINT AS s_micro
                FROM ab)
        SELECT cell, count(*)::BIGINT AS n_vecs,
               floor(sum(s_micro)::DOUBLE / count(*)::DOUBLE + 0.5)::BIGINT
                 AS mean_sil_micro
        FROM sil GROUP BY 1""")),

    // HILL TAIL-INDEX of the token-frequency distribution
    // (text/CorpusStats.scala): the heavy-tail exponent MLE beside
    // q163's regression slope — α drifting low = head fattening
    // (template flooding). One count aggregation + the bounded
    // top-(k+1) cut; tie-invariant by construction.
    "q181_hill_tail" -> Q(
      (s, d) => CorpusStats.hillTailIndex(Tables.documents(s, d), "text",
        k = 20),
      Some(s"""
        WITH tf AS (SELECT term, count(*)::BIGINT AS c
                    FROM (SELECT unnest($DUCK_TOKENS) AS term
                          FROM documents)
                    GROUP BY 1),
        head AS (SELECT term, c FROM tf ORDER BY c DESC, term LIMIT 21),
        ft AS (SELECT min(c)::BIGINT AS f_tail FROM head),
        mom AS (SELECT (count(*) - 1)::BIGINT AS n_head, f_tail,
                       sum(floor(ln(c::DOUBLE / f_tail::DOUBLE) * 1e6
                                 + 0.5)::BIGINT)::BIGINT AS s
                FROM head CROSS JOIN ft GROUP BY f_tail)
        SELECT n_head, f_tail,
               CASE WHEN n_head > 0 AND s > 0
                    THEN floor(s::DOUBLE / n_head::DOUBLE + 0.5)::BIGINT
               END AS h_micro,
               CASE WHEN n_head > 0 AND s > 0
                    THEN floor(1e12 / floor(s::DOUBLE / n_head::DOUBLE
                                            + 0.5) + 0.5)::BIGINT
               END AS alpha_micro
        FROM mom""")),

    // IMAGE NEAR-DUP PAIRS via perceptual dHash + hamming banding — the
    // multimodal arm of the dedup family: 64-bit difference hash through
    // the REAL BMP codec (multimodal/Bmp.dHash: fixed 9×8 nearest grid,
    // integer luma gradients) over the content-textured fixture corpus,
    // then the SAME pigeonhole-complete banding engine as text SimHash
    // (NearDup.hammingPairs, 8 bands, ham ≤ 2). The oracle needs no
    // codec: the texture is md5-of-window per pixel and the dHash grid
    // samples pixels (4x, 4y), so the hash has a closed md5 form — and
    // the oracle's QUADRATIC pair scan doubles as a banding-completeness
    // proof (recall 1: any pair the bands missed would fail the compare).
    "q183_image_neardup" -> Q(
      (s, d) => {
        // fused fixture→dHash (r20): only the 72 sampled windows are
        // hashed; MultimodalSpec pins ≡ imageDHashes∘texturedImageFixtures
        NearDup.hammingPairs(
          Multimodal.texturedImageDHashes(s, Tables.documents(s, d)),
          "doc_id", "dhash", bits = 64, bands = 8, maxHamming = 2)
      },
      Some(s"""
        WITH $dhashPairCtes
        SELECT id_a, id_b, hamming FROM ipairs""")),

    // BATCH-vs-CORPUS HAMMING FLAGS (VERDICT r12 #6): the fingerprint
    // tick's serving kernel as a registered query — q209's hamming
    // sibling. New image dHashes (doc_id%11=0) are flagged against the
    // disjoint rest through the persisted-index shape
    // (NearDup.hammingBandRows → hammingCorpusFlags): the index
    // streams map-side against the broadcast batch, the hash RIDES the
    // band rows (no payload join-back at all — one long per row), and
    // the only shuffle is the per-new-id min-hamming fold. Candidates
    // are pigeonhole-complete within bands−1 flips; band formula and
    // dHash formula are each ONE generator (hammingBandRows /
    // dhashCtes) shared with q183/q205. Registered through the
    // measured-size band dispatch (VERDICT r13 #1,
    // NearDup.hammingCorpusFlagsAuto): one corpus count() holds the
    // floor bands=8 at every oracle scale (occupancy n/256 ≪ 128), so
    // the static bands=8 oracle stays bit-identical, while a 20 M-hash
    // corpus steps to the measured-2.8×-cheaper bands=4 dial. The
    // dHash frame is checkpointed once — the Auto's count and the
    // flags pass must not each pay the BMP decode.
    "q214_hamming_corpus_flags" -> Q(
      (s, d) => {
        val fps = Multimodal.texturedImageDHashes(s, Tables.documents(s, d))
          .localCheckpoint(true)
        NearDup.hammingCorpusFlagsAuto(
          fps.filter(col("doc_id") % 11 =!= 0),
          fps.filter(col("doc_id") % 11 === 0),
          "doc_id", "dhash", bits = 64, floorBands = 8, maxHamming = 2)
      },
      Some(s"""
        WITH $dhashCtes,
        cb AS (SELECT doc_id, dhash, b AS band_idx,
                      (dhash >> (b * 8)) & 255 AS band_val
               FROM hsimg, unnest(range(0, 8)) ub(b)
               WHERE doc_id % 11 <> 0),
        bb AS (SELECT doc_id AS new_id, dhash AS nh, b AS band_idx,
                      (dhash >> (b * 8)) & 255 AS band_val
               FROM hsimg, unnest(range(0, 8)) ub(b)
               WHERE doc_id % 11 = 0)
        SELECT new_id AS doc_id,
               min(bit_count(xor(dhash, nh)))::BIGINT AS best_hamming
        FROM cb JOIN bb USING (band_idx, band_val)
        GROUP BY 1""")),

    // MULTIMODAL DEDUP CLOSURE: ONE cluster family over the UNION of
    // text near-dup pairs (q35's banded MinHash candidates) and image
    // near-dup pairs (q183's dHash hamming pairs) — the cross-modal
    // composition a mixed corpus needs: a doc pair invisible to one
    // modality (template reskin vs pixel-identical render) still
    // families together if EITHER modality links it, and the shared
    // pointer-jumping/union-find engine (q42) consumes the union
    // unchanged. Oracle = transitive closure over the unioned pair
    // CTEs (closureTail — the same generator as q42/q54, so closure
    // semantics cannot drift across all three clustering surfaces).
    "q205_multimodal_dedup" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val text = NearDup.minhashLshPairsFromRows(
            TextOps.wordShingleRows(docs, "doc_id", "text", 3),
            k = 16, bands = 8)
          .select(col("id_a"), col("id_b"))
        val img = NearDup.hammingPairs(
            Multimodal.texturedImageDHashes(s, docs),
            "doc_id", "dhash", bits = 64, bands = 8, maxHamming = 2)
          .select(col("id_a"), col("id_b"))
        NearDup.dedupClusters(
          text.unionByName(img).dropDuplicates("id_a", "id_b"),
          "id_a", "id_b")
      },
      Some(s"""
        WITH RECURSIVE ${minhashCtes(16, 8)},
        $dhashPairCtes,
        upair AS (SELECT id_a, id_b FROM cand
                  UNION SELECT id_a, id_b FROM ipairs),
        ${closureTail("upair", "doc_id")}""")),

    // AUDIO NEAR-DUP PAIRS via the energy-delta fingerprint — the third
    // modality's dedup arm (q183's audio sibling): per-frame Σ|sample|
    // through the REAL WAV codec (Wav.frameAbsSums — exact integers,
    // no fp), bit f = energy rises into frame f+1 (the Haitsma-Kalker
    // sign-of-derivative family), then the SAME banding engine. The
    // textured fixture holds each frame at an md5-window int16, so the
    // oracle's closed form needs no codec and its quadratic scan again
    // proves banding recall 1.
    "q184_audio_neardup" -> Q(
      (s, d) => {
        // fused fixture→energy-hash (r20): the 65 window digests alone;
        // MultimodalSpec pins ≡ audioEnergyHashes∘texturedAudioFixtures
        NearDup.hammingPairs(
          Multimodal.texturedAudioHashes(s, Tables.documents(s, d)),
          "doc_id", "ahash", bits = 64, bands = 8, maxHamming = 2)
      },
      Some(s"""
        WITH $audioPairCtes
        SELECT id_a, id_b, hamming FROM apairs""")),

    // TRIMODAL DEDUP CLOSURE (VERDICT r11 #8): q205's cross-modal
    // family extended with the THIRD modality — text MinHash pairs ∪
    // image dHash pairs ∪ audio fingerprint pairs through the one
    // shared clustering engine. The same hamming banding serves image
    // and audio (both are 64-bit fingerprints), so the marginal cost
    // over q205 is one more fixture+hash pass and a bigger pair union.
    // Oracle = transitive closure over the three unioned pair CTE
    // chains (closureTail — the q42/q54/q205 generator, so closure
    // semantics stay pinned across all four clustering surfaces).
    // Binding note: the synthetic corpus yields ZERO audio pairs below
    // sf0.1 (the fixture's energy-delta fingerprints only collide on
    // the larger corpus), so the audio arm is vacuous at the sf0.01
    // driver gate but BINDS at sf0.1 — 21 pairs, q208 ≠ q205, and the
    // drop-apairs oracle corruption FAILs there (r12, part of the 3-SF
    // check this family always runs).
    "q208_trimodal_dedup" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val text = NearDup.minhashLshPairsFromRows(
            TextOps.wordShingleRows(docs, "doc_id", "text", 3),
            k = 16, bands = 8)
          .select(col("id_a"), col("id_b"))
        val img = NearDup.hammingPairs(
            Multimodal.texturedImageDHashes(s, docs),
            "doc_id", "dhash", bits = 64, bands = 8, maxHamming = 2)
          .select(col("id_a"), col("id_b"))
        val aud = NearDup.hammingPairs(
            Multimodal.texturedAudioHashes(s, docs),
            "doc_id", "ahash", bits = 64, bands = 8, maxHamming = 2)
          .select(col("id_a"), col("id_b"))
        NearDup.dedupClusters(
          text.unionByName(img).unionByName(aud)
            .dropDuplicates("id_a", "id_b"),
          "id_a", "id_b")
      },
      Some(s"""
        WITH RECURSIVE ${minhashCtes(16, 8)},
        $dhashPairCtes,
        $audioPairCtes,
        upair AS (SELECT id_a, id_b FROM cand
                  UNION SELECT id_a, id_b FROM ipairs
                  UNION SELECT id_a, id_b FROM apairs),
        ${closureTail("upair", "doc_id")}""")),

    // BATCH-vs-CORPUS embedding flags (sim/Similarity.scala): the
    // serving kernel of the streaming embedding-dedup tick
    // (embeddingIngestTick) as an oracle-checked query — a "new" batch
    // (vec_id % 17 = 0) scored against the disjoint rest of the table
    // through the SAME lshBandRows banding the persisted index uses:
    // per batch vector, the best cosine among its band-collision
    // candidates. Batch side broadcasts; the corpus streams map-side;
    // the one shuffle is the partial-aggregated max fold (StreamingSpec
    // pins the plan). Oracle composes the factored embBandRowsCtes —
    // the engine/oracle banding formulas are the same pair of
    // generators q49/q54/q77 already pin.
    // Registered through the occupancy-adaptive Auto wrapper (the F11
    // lesson applied up front): width = 5 bits through the 4096-row
    // floor — every oracle scale, bit-identical — widening above so
    // corpus bucket occupancy never grows ∝ N.
    "q209_corpus_flags" -> Q(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.embeddingCorpusFlagsAuto(
          emb.filter(col("vec_id") % 17 =!= 0),
          emb.filter(col("vec_id") % 17 === 0),
          "vec_id", "embedding", dims = 64, bands = 4, floorRowsPerBand = 5)
      },
      Some(s"""
        WITH ${embBandRowsCtes(4, 5)},
        corp AS (SELECT * FROM bands WHERE vec_id % 17 <> 0),
        bat  AS (SELECT * FROM bands WHERE vec_id % 17 = 0),
        cand AS (SELECT DISTINCT c.vec_id AS cid, q.vec_id AS nid
                 FROM corp c JOIN bat q USING (band_idx, bucket))
        SELECT cand.nid AS vec_id,
               max(round(list_dot_product(ec.v, eq.v) / (ec.vn * eq.vn), 6))
                 AS best_cosine
        FROM cand JOIN en ec ON ec.vec_id = cand.cid
                  JOIN en eq ON eq.vec_id = cand.nid
        GROUP BY 1""")),

    // IVF RECALL-vs-NPROBE CURVE (sim/Similarity.scala): the index-
    // tuning evidence table — recall@3 of the q43 quantizer at
    // nprobe ∈ {1, 2, 4} against the exact brute-force truth, one row
    // per sweep point. The oracle replays the whole sweep from the
    // shared ivfAssignCtes, so quantizer, probe order, tie-breaks and
    // truth all stay pinned to q43's semantics.
    "q185_ivf_recall_curve" -> Q(
      (s, d) => Similarity.ivfRecallCurve(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, centroids = 16,
        nprobes = Seq(1, 2, 4), k = 3, queryPred = col("vec_id") % 25 === 0),
      Some(s"""
        WITH ${ivfAssignCtes(16, 64)},
        q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM en
              WHERE vec_id % 25 = 0),
        truth AS (SELECT query_id, en.vec_id
                  FROM q, en WHERE en.vec_id <> q.query_id
                  QUALIFY row_number() OVER (PARTITION BY query_id
                          ORDER BY round(list_dot_product(qv, v)
                                         / (qn * vn), 6) DESC,
                                   en.vec_id) <= 3),
        pr AS (SELECT np, query_id, cell
               FROM (SELECT vec_id AS query_id, c AS cell,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY ccos DESC, c) AS rn
                     FROM scored_cells WHERE vec_id % 25 = 0),
                    unnest([1, 2, 4]) un(np)
               WHERE rn <= np),
        cand AS (SELECT DISTINCT pr.np, pr.query_id, a.vec_id, a.v, a.vn
                 FROM pr JOIN assigned a ON a.cell = pr.cell
                 WHERE a.vec_id <> pr.query_id),
        ranked AS (SELECT np, query_id, vec_id
                   FROM cand JOIN q USING (query_id)
                   QUALIFY row_number() OVER (PARTITION BY np, query_id
                           ORDER BY round(list_dot_product(qv, cand.v)
                                          / (qn * cand.vn), 6) DESC,
                                    vec_id) <= 3),
        hits AS (SELECT np, count(*)::BIGINT AS hit
                 FROM ranked JOIN truth USING (query_id, vec_id)
                 GROUP BY 1),
        nq AS (SELECT count(*)::BIGINT AS n FROM q)
        SELECT un.np AS nprobe, nq.n AS n_queries,
               coalesce(hits.hit, 0)::BIGINT AS hits,
               (nq.n * 3)::BIGINT AS possible,
               floor(coalesce(hits.hit, 0)::DOUBLE * 1e6
                     / (nq.n * 3)::DOUBLE + 0.5)::BIGINT AS recall_micro
        FROM unnest([1, 2, 4]) un(np)
        LEFT JOIN hits ON hits.np = un.np CROSS JOIN nq""")),

    // LABEL-NOISE AUDIT (text/Classify.scala): wide-margin
    // disagreements between the NB model and its own training labels —
    // the confident-learning re-annotation queue. Shares nbCtes with
    // q133/q177; the margin threshold (1.0 in the micro·nat scale) is
    // read off q177's calibration table.
    "q187_label_noise" -> Q(
      (s, d) => Classify.labelNoiseCandidates(Tables.documents(s, d),
        "doc_id", "text", "lang", minMarginMicro = 1000000L),
      Some(s"""
        WITH $nbCtes,
        ranked AS (SELECT doc_id, label_true, cand, total,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY total DESC, cand DESC)
                            AS rn
                   FROM tot)
        SELECT b.doc_id, b.label_true AS label, b.cand AS pred_label,
               (b.total - s.total)::BIGINT AS margin_micro
        FROM ranked b JOIN ranked s
          ON b.doc_id = s.doc_id AND b.rn = 1 AND s.rn = 2
        WHERE b.cand <> b.label_true
          AND b.total - s.total >= 1000000""")),

    // NEYMAN-ALLOCATION SAMPLING PLAN (text/Terms.scala): split a
    // 1000-draw audit budget across sources ∝ n_h·σ_h of doc length —
    // the optimal stratified design. n_h·σ_h = √(n·Σx² − S²) exactly;
    // integer largest-remainder apportionment sums to the budget by
    // construction.
    "q189_neyman_plan" -> Q(
      (s, d) => Terms.neymanAllocation(Tables.documents(s, d), "source",
        col("n_chars"), budget = 1000L),
      Some("""
        WITH mom AS (SELECT source AS stratum, count(*)::BIGINT AS n_h,
                            sum(n_chars)::BIGINT AS s,
                            sum(n_chars * n_chars)::BIGINT AS s2
                     FROM documents GROUP BY 1),
        w AS (SELECT stratum, n_h,
                     floor(sqrt((n_h * s2 - s * s)::DOUBLE) + 0.5)::BIGINT
                       AS w
              FROM mom),
        t AS (SELECT sum(w)::BIGINT AS tw FROM w),
        b AS (SELECT stratum, n_h, w, (1000 * w) // tw AS base,
                     (1000 * w) % tw AS rem
              FROM w CROSS JOIN t),
        l AS (SELECT sum(base)::BIGINT AS sb FROM b)
        SELECT stratum, n_h, w AS nh_sigma,
               (base + CASE WHEN row_number() OVER (ORDER BY rem DESC,
                                                    stratum)
                                 <= 1000 - sb
                            THEN 1 ELSE 0 END)::BIGINT AS alloc
        FROM b CROSS JOIN l""")),

    // PREFIX-FILTERED EXACT SIMILARITY JOIN (text/NearDup.scala, the
    // AllPairs/PPJoin family): word-set Jaccard ≥ 0.5 pairs with zero
    // false negatives by construction — the exact complement to q35's
    // probabilistic LSH banding. The oracle computes the FULL
    // overlapping-pair ground truth (no prefix filter), so a pass
    // doubles as a no-false-negative proof of the prefix bound.
    "q190_prefix_jaccard" -> Q(
      (s, d) => NearDup.prefixJaccardPairs(Tables.documents(s, d),
        "doc_id", "text", n = 3, minJaccard = 0.5),
      Some(s"""
        WITH toks AS (SELECT DISTINCT doc_id,
                             ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
                      FROM (SELECT doc_id,
                                   unnest(list_distinct(
                                     [array_to_string(tk[i:i+2], ' ')
                                      for i in range(1, len(tk) - 1)])) AS g
                            FROM (SELECT doc_id, $DUCK_TOKENS AS tk
                                  FROM documents)
                            WHERE len(tk) >= 3)),
        sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM toks GROUP BY 1),
        inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
                         count(*)::BIGINT AS c
                  FROM toks a JOIN toks b
                    ON a.h = b.h AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        j AS (SELECT ia, ib,
                     round(c::DOUBLE / (sa.sz + sb.sz - c)::DOUBLE, 4)
                       AS jaccard
              FROM inter JOIN sz sa ON sa.doc_id = ia
              JOIN sz sb ON sb.doc_id = ib)
        SELECT ia AS id_a, ib AS id_b, jaccard
        FROM j WHERE jaccard >= 0.5""")),

    // HEAPS'-LAW VOCABULARY-GROWTH EXPONENT per source
    // (text/CorpusStats.scala): β from a 10-checkpoint log-log fit
    // along each source's id range — β → 0 is the template-mill
    // signature. Progress checkpoints are exact integer id-range
    // splits (no per-group windows, no doc-count histograms).
    "q191_heaps_exponent" -> Q(
      (s, d) => CorpusStats.heapsExponent(Tables.documents(s, d),
          "source", "doc_id", "text")
        .withColumnRenamed("grp", "source"),
      Some(s"""
        WITH base AS (SELECT source AS grp, doc_id AS id, $DUCK_TOKENS AS tk
                      FROM documents),
        bounds AS (SELECT grp, min(id) AS mn, max(id) AS mx
                   FROM base GROUP BY 1),
        cp AS (SELECT grp, j, mn + ((mx - mn) * j) // 10 AS thr
               FROM bounds, unnest(range(1, 11)) u(j)),
        tat AS (SELECT b.grp, cp.j, sum(len(b.tk))::BIGINT AS tt
                FROM base b JOIN cp ON cp.grp = b.grp AND b.id <= cp.thr
                GROUP BY 1, 2),
        fs AS (SELECT grp, term, min(id) AS fd
               FROM (SELECT grp, id, unnest(tk) AS term FROM base)
               GROUP BY 1, 2),
        vat AS (SELECT fs.grp, cp.j, count(*)::BIGINT AS v
                FROM fs JOIN cp ON cp.grp = fs.grp AND fs.fd <= cp.thr
                GROUP BY 1, 2),
        pts AS (SELECT t.grp,
                       floor(ln(tt::DOUBLE) * 1e6 + 0.5)::BIGINT AS x,
                       floor(ln(v::DOUBLE) * 1e6 + 0.5)::BIGINT AS y
                FROM tat t JOIN vat USING (grp, j)
                WHERE tt > 0 AND v > 0),
        mom AS (SELECT grp, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                       sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
                       sum(x * x)::BIGINT AS sxx
                FROM pts GROUP BY 1)
        SELECT grp AS source, n AS n_points,
               CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
                    THEN floor((n::DOUBLE * sxy::DOUBLE
                                - sx::DOUBLE * sy::DOUBLE)
                               / (n::DOUBLE * sxx::DOUBLE
                                  - sx::DOUBLE * sx::DOUBLE)
                               * 1e6 + 0.5)::BIGINT
               END AS beta_micro
        FROM mom""")),

    // COMPRESSION-RATIO quality signal (text/TextOps.scala): the zlib
    // filter of the RefinedWeb/Gopher cleaning batteries — template
    // text compresses hard, byte soup not at all; both tails are drop
    // candidates. DuckDB has no deflate, so the check is SPLIT (VERDICT
    // r11 #7): the registered query runs the real per-row deflate and
    // THROWS if an invariant breaks, but emits only the columns DuckDB
    // can recompute (UTF-8 byte count consumed by the deflater + MD5 of
    // those bytes) → full rows/schema/hash driver row. The deflate
    // VALUES stay independently checked by tools/check.py's Python-zlib
    // arm over the `<outDir>.extras/deflate_bytes` artifact Verify
    // writes (an independent RFC 1951 implementation reproducing
    // Deflater(6, nowrap) byte counts exactly; corruption-tested) and
    // by PipelineOpsSpec's Python-precomputed golden byte counts,
    // ordering, and determinism pins.
    "q192_compression_signal" -> Q(
      (s, d) => TextOps.compressionSignal(s, Tables.documents(s, d),
        "doc_id", "text"),
      Some("""
        SELECT doc_id, strlen(coalesce(text, '')) AS n_raw,
               md5(coalesce(text, '')) AS text_md5
        FROM documents""")),

    // LEAVE-ONE-SOURCE-OUT DATA VALUATION (text/Classify.scala): NB
    // label-model accuracy on a fixed eval slice with each source held
    // out of training, vs the full model — all S "retrained" models
    // derived ALGEBRAICALLY from one (source, term, label) count scan
    // (c−c_s, T−T_s, V−exclusive, priors likewise), never S corpus
    // passes. The delta column is the source-culling ranking. The full-
    // model side reuses nbCtes so the two models share one formula.
    "q193_loo_valuation" -> Q(
      (s, d) => Classify.looSourceValuation(Tables.documents(s, d),
        "doc_id", "text", "lang", "source",
        evalPred = col("doc_id") % 5 === 0),
      Some(looValuationSql("", "doc_id % 5 = 0"))),

    // SAMPLED LOO VALUATION (VERDICT r13 #3): q193's documented scale
    // knob — "keep the eval slice a sample" — registered instead of
    // prose. The eval slice is the q71 deterministic per-label
    // subsample (seeded md5 rank, k=5 per label) of the %5 candidates,
    // so the inference replication and the eval-vocab×L×S grid are
    // BOUNDED at L·k docs regardless of corpus size, while training
    // counts and smoothing corrections still come from the FULL
    // corpus. One SQL generator with q193 (looValuationSql — the LOO
    // algebra cannot drift) + the q71 rank formula for the sample, so
    // the oracle replays the seeded sample exactly.
    "q217_loo_valuation_sampled" -> Q(
      (s, d) => Classify.looSourceValuationSampled(Tables.documents(s, d),
        "doc_id", "text", "lang", "source",
        evalPred = col("doc_id") % 5 === 0, perLabelK = 5),
      Some(looValuationSql(
        """xeval AS (SELECT doc_id FROM (
             SELECT doc_id,
                    row_number() OVER (PARTITION BY lang
                      ORDER BY ('0x' || substr(md5('sample|' || doc_id), 1, 8))::BIGINT,
                               doc_id) AS rnk
             FROM documents WHERE doc_id % 5 = 0)
           WHERE rnk <= 5),""",
        "doc_id IN (SELECT doc_id FROM xeval)"))),

    // LANGUAGE-ID CONFUSION MATRIX: the q33 heuristic graded against
    // the lang labels — observed (label, prediction) cells with row
    // (recall-axis) and column (precision-axis) shares, the standard
    // classifier-quality census. Shares langIdCaseSql with q33 so the
    // heuristic cannot drift; everything after the per-doc prediction
    // is |langs|²-bounded.
    "q194_langid_confusion" -> Q(
      (s, d) => {
        val cells = TextOps.withLangId(Tables.documents(s, d), "text", "pred")
          .groupBy(col("lang").as("label"), col("pred"))
          .agg(count(lit(1)).as("n")).localCheckpoint(true)
        val rt = cells.groupBy(col("label")).agg(sum(col("n")).as("rt"))
        val ct = cells.groupBy(col("pred")).agg(sum(col("n")).as("ct"))
        cells.join(rt, Seq("label")).join(ct, Seq("pred"))
          .select(col("label"), col("pred").as("pred_lang"), col("n"),
            floor(col("n").cast("double") * lit(1e6)
              / col("rt").cast("double") + lit(0.5)).cast("long")
              .as("row_share_micro"),
            floor(col("n").cast("double") * lit(1e6)
              / col("ct").cast("double") + lit(0.5)).cast("long")
              .as("col_share_micro"))
      },
      Some(s"""
        WITH p AS (SELECT lang AS label, $langIdCaseSql AS pred
                   FROM documents),
        cells AS (SELECT label, pred, count(*)::BIGINT AS n
                  FROM p GROUP BY 1, 2),
        rt AS (SELECT label, sum(n)::BIGINT AS rt FROM cells GROUP BY 1),
        ct AS (SELECT pred, sum(n)::BIGINT AS ct FROM cells GROUP BY 1)
        SELECT label, pred AS pred_lang, n,
               floor(n::DOUBLE * 1e6 / rt::DOUBLE + 0.5)::BIGINT
                 AS row_share_micro,
               floor(n::DOUBLE * 1e6 / ct::DOUBLE + 0.5)::BIGINT
                 AS col_share_micro
        FROM cells JOIN rt USING (label) JOIN ct USING (pred)""")),

    // TEXTTILING-LITE topic-shift signal (Hearst 1997's lexical-
    // cohesion segmentation, reduced to its distributable core): per
    // doc, adjacent 20-token blocks compared by vocabulary Jaccard —
    // deep valleys mean a topic boundary (a concatenation seam, a
    // template splice). Emits per-doc block count, boundary count at
    // sim < 0.1, and the mean/min gap similarity — the "is this doc
    // one document or several stapled together" screen. Everything
    // after the one token explode is per-doc bounded; gap sims
    // micro-snap before the per-doc mean.
    "q203_texttiling" -> Q(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "term")))
          .withColumn("blk", expr("pos div 20"))
          .select(col("doc_id"), col("blk"), col("term")).distinct()
          .localCheckpoint(true) // sizes + the adjacent join share it
        val sizes = toks.groupBy(col("doc_id"), col("blk"))
          .agg(count(lit(1)).as("sz"))
        val inter = toks.as("a").join(toks.as("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("a.blk") + 1 === col("b.blk") &&
              col("a.term") === col("b.term"))
          .groupBy(col("a.doc_id").as("doc_id"), col("a.blk").as("blk"))
          .agg(count(lit(1)).as("c"))
        val gaps = sizes.as("s1").join(
            sizes.as("s2"),
            col("s1.doc_id") === col("s2.doc_id") &&
              col("s1.blk") + 1 === col("s2.blk"))
          .select(col("s1.doc_id").as("doc_id"), col("s1.blk").as("blk"),
            col("s1.sz").as("sza"), col("s2.sz").as("szb"))
          .join(inter, Seq("doc_id", "blk"), "left").na.fill(0L, Seq("c"))
          .withColumn("sim_micro",
            floor(col("c").cast("double") * lit(1e6)
              / (col("sza") + col("szb") - col("c")).cast("double")
              + lit(0.5)).cast("long"))
        gaps.groupBy(col("doc_id"))
          .agg((max(col("blk")) + 2).as("n_blocks"),
            sum((col("sim_micro") < 100000L).cast("long")).as("n_boundaries"),
            floor(sum(col("sim_micro")).cast("double")
              / count(lit(1)).cast("double") + lit(0.5)).cast("long")
              .as("mean_sim_micro"),
            min(col("sim_micro")).as("min_sim_micro"))
      },
      Some(s"""
        WITH toks AS (SELECT DISTINCT doc_id, (pos - 1) // 20 AS blk,
                             tk[pos] AS term
                      FROM (SELECT doc_id, $DUCK_TOKENS AS tk
                            FROM documents),
                           unnest(range(1, len(tk) + 1)) u(pos)),
        sizes AS (SELECT doc_id, blk, count(*)::BIGINT AS sz
                  FROM toks GROUP BY 1, 2),
        inter AS (SELECT a.doc_id, a.blk, count(*)::BIGINT AS c
                  FROM toks a JOIN toks b
                    ON a.doc_id = b.doc_id AND a.blk + 1 = b.blk
                   AND a.term = b.term
                  GROUP BY 1, 2),
        gaps AS (SELECT s1.doc_id, s1.blk,
                        floor(coalesce(i.c, 0)::DOUBLE * 1e6
                              / (s1.sz + s2.sz - coalesce(i.c, 0))::DOUBLE
                              + 0.5)::BIGINT AS sim_micro
                 FROM sizes s1 JOIN sizes s2
                   ON s1.doc_id = s2.doc_id AND s1.blk + 1 = s2.blk
                 LEFT JOIN inter i
                   ON i.doc_id = s1.doc_id AND i.blk = s1.blk)
        SELECT doc_id, (max(blk) + 2)::BIGINT AS n_blocks,
               sum((sim_micro < 100000)::INT)::BIGINT AS n_boundaries,
               floor(sum(sim_micro)::DOUBLE / count(*)::DOUBLE + 0.5)::BIGINT
                 AS mean_sim_micro,
               min(sim_micro)::BIGINT AS min_sim_micro
        FROM gaps GROUP BY 1""")),

    // SIMPSON'S-PARADOX DETECTOR: does the pooled length→quality trend
    // REVERSE inside any source? The aggregation-bias tripwire — a
    // pooled slope read off a mixed corpus can point the opposite way
    // from every stratum (the classic Simpson structure), and a
    // mixture decision made on the pooled number is then wrong for
    // every source. Per-source and pooled slopes from the q116
    // exact-integer least-squares moments; one mirrored double tail
    // each; flip = sign(source) ≠ sign(pooled) with zero-denominator
    // sources emitting NULL and no flag.
    "q204_simpson_detector" -> Q(
      (s, d) => Calibrate.groupedSlopeFlip(Tables.documents(s, d), "source",
          col("n_chars"),
          floor(TextOps.qualityScore(col("text")) * lit(1e6) + lit(0.5))
            .cast("long"))
        .withColumnRenamed("grp", "source"),
      Some(s"""
        WITH base AS (SELECT source, n_chars AS x,
                             floor(($qualitySql) * 1e6 + 0.5)::BIGINT AS y
                      FROM documents),
        per AS (SELECT source, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                       sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
                       sum(x * x)::BIGINT AS sxx
                FROM base GROUP BY 1),
        pooled AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                          sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
                          sum(x * x)::BIGINT AS sxx
                   FROM base),
        ps AS (SELECT CASE WHEN n::DOUBLE * sxx::DOUBLE
                                - sx::DOUBLE * sx::DOUBLE > 0
                           THEN floor((n::DOUBLE * sxy::DOUBLE
                                       - sx::DOUBLE * sy::DOUBLE)
                                      / (n::DOUBLE * sxx::DOUBLE
                                         - sx::DOUBLE * sx::DOUBLE)
                                      * 1e6 + 0.5)::BIGINT
                      END AS pooled_slope_micro
               FROM pooled)
        SELECT source, n,
               CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
                    THEN floor((n::DOUBLE * sxy::DOUBLE
                                - sx::DOUBLE * sy::DOUBLE)
                               / (n::DOUBLE * sxx::DOUBLE
                                  - sx::DOUBLE * sx::DOUBLE)
                               * 1e6 + 0.5)::BIGINT
               END AS slope_micro,
               pooled_slope_micro,
               CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
                    THEN (sign(floor((n::DOUBLE * sxy::DOUBLE
                                      - sx::DOUBLE * sy::DOUBLE)
                                     / (n::DOUBLE * sxx::DOUBLE
                                        - sx::DOUBLE * sx::DOUBLE)
                                     * 1e6 + 0.5))
                          <> sign(pooled_slope_micro)
                          AND floor((n::DOUBLE * sxy::DOUBLE
                                     - sx::DOUBLE * sy::DOUBLE)
                                    / (n::DOUBLE * sxx::DOUBLE
                                       - sx::DOUBLE * sx::DOUBLE)
                                    * 1e6 + 0.5) <> 0)::INT
               END AS sign_flipped
        FROM per CROSS JOIN ps""")),

    // EMPIRICAL-BAYES RATE SHRINKAGE (the Efron-Morris/beta-binomial
    // construction, public): per-source quality-gate pass rates shrunk
    // toward the cross-source prior — a 10-doc source's raw 0.9 rate
    // is noise, and ranking sources on raw rates rewards small n; the
    // shrunk rate is what a mixture planner should read. Prior (α, β)
    // by method of moments over the micro-snapped rate vector (integer
    // sums — a double sum over sources would be aggregation-order-
    // dependent); negative MoM mass (rates less dispersed than
    // binomial) falls back to no shrinkage in both engines.
    "q198_eb_shrinkage" -> Q(
      (s, d) => {
        val src = Tables.documents(s, d)
          .select(col("source"),
            (TextOps.qualityScore(col("text")) >= 0.55).cast("long").as("keep"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("keep")).as("k"))
          .withColumn("rate_micro",
            floor(col("k").cast("double") * lit(1e6)
              / col("n").cast("double") + lit(0.5)).cast("long"))
          .localCheckpoint(true)
        val mom = src.agg(count(lit(1)).as("ns"),
          sum(col("rate_micro")).as("sr"),
          sum(col("rate_micro") * col("rate_micro")).as("sr2"))
        val m = col("sr").cast("double") / col("ns").cast("double")
        val v = (col("ns").cast("double") * col("sr2").cast("double")
          - col("sr").cast("double") * col("sr").cast("double")) /
          (col("ns").cast("double") * col("ns").cast("double"))
        src.crossJoin(broadcast(mom))
          .withColumn("ab", m * (lit(1e6) - m) / v - lit(1.0))
          .withColumn("shrunk_micro",
            when(v > 0.0 && col("ab") > 0.0,
              floor((col("k").cast("double") + col("ab") * m / lit(1e6))
                / (col("n").cast("double") + col("ab")) * lit(1e6)
                + lit(0.5)).cast("long"))
              .otherwise(col("rate_micro")))
          .select(col("source"), col("n"), col("k"), col("rate_micro"),
            col("shrunk_micro"))
      },
      Some(s"""
        WITH sc AS (SELECT source,
                           (($qualitySql) >= 0.55)::INT AS keep
                    FROM documents),
        src AS (SELECT source, count(*)::BIGINT AS n,
                       sum(keep)::BIGINT AS k,
                       floor(sum(keep)::DOUBLE * 1e6
                             / count(*)::DOUBLE + 0.5)::BIGINT AS rate_micro
                FROM sc GROUP BY 1),
        mom AS (SELECT count(*)::BIGINT AS ns,
                       sum(rate_micro)::BIGINT AS sr,
                       sum(rate_micro * rate_micro)::BIGINT AS sr2
                FROM src)
        SELECT source, n, k, rate_micro,
               CASE WHEN (ns::DOUBLE * sr2::DOUBLE - sr::DOUBLE * sr::DOUBLE)
                         / (ns::DOUBLE * ns::DOUBLE) > 0
                     AND (sr::DOUBLE / ns::DOUBLE)
                         * (1e6 - sr::DOUBLE / ns::DOUBLE)
                         / ((ns::DOUBLE * sr2::DOUBLE
                             - sr::DOUBLE * sr::DOUBLE)
                            / (ns::DOUBLE * ns::DOUBLE)) - 1.0 > 0
                    THEN floor((k::DOUBLE
                                + ((sr::DOUBLE / ns::DOUBLE)
                                   * (1e6 - sr::DOUBLE / ns::DOUBLE)
                                   / ((ns::DOUBLE * sr2::DOUBLE
                                       - sr::DOUBLE * sr::DOUBLE)
                                      / (ns::DOUBLE * ns::DOUBLE)) - 1.0)
                                  * (sr::DOUBLE / ns::DOUBLE) / 1e6)
                               / (n::DOUBLE
                                  + ((sr::DOUBLE / ns::DOUBLE)
                                     * (1e6 - sr::DOUBLE / ns::DOUBLE)
                                     / ((ns::DOUBLE * sr2::DOUBLE
                                         - sr::DOUBLE * sr::DOUBLE)
                                        / (ns::DOUBLE * ns::DOUBLE)) - 1.0))
                               * 1e6 + 0.5)::BIGINT
                    ELSE rate_micro END AS shrunk_micro
        FROM src CROSS JOIN mom""")),
  )
}
