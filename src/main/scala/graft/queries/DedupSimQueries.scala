package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{DedupOps, SimilarityOps}
import Catalog.Entry

/** Deduplication + similarity-search suite (north-star training-data
  * pipeline operators; reference's own duplicate-rate EDA is A10).
  */
object DedupSimQueries {

  /** DuckDB literal for lshBucket's hyperplane b (SimilarityOps.lshBucket
    * derives weights from a fixed integer mix, so the oracle can embed the
    * exact same doubles as SQL literals — Double.toString round-trips).
    */
  /** Shared recursive-CC oracle prelude: minhash bands -> candidate
    * pairs -> symmetric edges -> reachability closure (`reach`). Used by
    * the dedup_clusters labeling oracle and the dedup_apply filter
    * oracle so the two stay in lockstep.
    */
  /** [[minhashCcCte]] with the candidate-pair set optionally augmented
    * by extra SQL pair rows (columns `doc_a, doc_b`) UNION'd in before
    * the symmetric-edge expansion — the hook the straggler-chain CC
    * entry uses to thread its id-derived path edges through the SAME
    * reachability closure.
    */
  private def minhashCcCteWith(extraPairsSql: Option[String]): String = {
    val pairsCte = extraPairsSql match {
      case None => "pairs AS (SELECT * FROM pairs0)"
      case Some(sql) =>
        s"pairs AS (SELECT * FROM pairs0 UNION $sql)"
    }
    s"""
        WITH RECURSIVE w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
            array_to_string(list_slice(ws, CAST(i AS INTEGER),
              CAST(i AS INTEGER) + 2), ' ') AS s
          FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 1)))
            AS t(i)),
        mh AS (
          SELECT doc_id, CAST(h AS INTEGER) AS h,
                 min(md5(CAST(h AS VARCHAR) || '|' || s)) AS minh
          FROM sh, UNNEST(generate_series(0, 15)) AS ht(h)
          GROUP BY 1, 2),
        bands AS (
          SELECT doc_id, h // 4 AS band,
                 md5(string_agg(minh, '|' ORDER BY h)) AS band_hash
          FROM mh GROUP BY 1, 2),
        pairs0 AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        $pairsCte,
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT reach.id, edges.dst
          FROM reach JOIN edges ON reach.r = edges.src)"""
  }

  private val minhashCcCte: String = minhashCcCteWith(None)

  /** Straggler-chain CC prelude: the minhash pair set plus a 96-link
    * id-derived path over minhash singletons (see
    * `dedup_clusters_chain`). `bands` comes from the shared prelude;
    * a doc is a singleton iff every band bucket it occupies has
    * exactly one member.
    */
  private val minhashChainCcCte: String = minhashCcCteWith(Some("""
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
                FROM (SELECT doc_id FROM (
                        SELECT DISTINCT doc_id FROM documents
                        WHERE doc_id % 11 = 3) st
                      WHERE doc_id NOT IN (
                        SELECT DISTINCT bb.doc_id FROM bands bb
                        JOIN (SELECT band, band_hash FROM bands
                              GROUP BY 1, 2 HAVING count(*) >= 2) bh
                          ON bb.band = bh.band
                         AND bb.band_hash = bh.band_hash)
                      ORDER BY doc_id LIMIT 96)) a
          JOIN (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
                FROM (SELECT doc_id FROM (
                        SELECT DISTINCT doc_id FROM documents
                        WHERE doc_id % 11 = 3) st
                      WHERE doc_id NOT IN (
                        SELECT DISTINCT bb.doc_id FROM bands bb
                        JOIN (SELECT band, band_hash FROM bands
                              GROUP BY 1, 2 HAVING count(*) >= 2) bh
                          ON bb.band = bh.band
                         AND bb.band_hash = bh.band_hash)
                      ORDER BY doc_id LIMIT 96)) b
            ON b.rn = a.rn + 1"""))

  private def planeLit(b: Int, dim: Int): String =
    (0 until dim).map { i =>
      val x = (1103515245L * (b * dim + i) + 12345L) % 1000003L
      ((x.toDouble / 1000003.0) * 2.0 - 1.0).toString
    }.mkString("[", ", ", "]")

  /** SQL for the sign-LSH bucket of vector expression `v` — the literal
    * twin of SimilarityOps.lshBucket (left-to-right double dot product,
    * sign threshold, bit-OR of disjoint powers of two).
    */
  private def bucketSql(v: String, dim: Int, bits: Int): String =
    (0 until bits).map(b =>
      s"(CASE WHEN list_dot_product($v, ${planeLit(b, dim)}) >= 0" +
        s" THEN ${1 << b} ELSE 0 END)").mkString(" + ")

  private val cosSql =
    "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) *" +
      " sqrt(list_dot_product(cv, cv)))"

  /** Quantized k-means SQL building blocks (twin of
    * SimilarityOps.kmeansCentroids arithmetic — everything in 1e-6 longs
    * so argmin ties are exact).
    */
  private val qzSql = "list_transform(embedding, x -> " +
    "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
  private def kmDistSql(qv: String, qc: String): String =
    s"list_sum(list_transform(generate_series(1, len($qv)), i -> " +
      s"($qv[CAST(i AS INTEGER)] - $qc[CAST(i AS INTEGER)]) * " +
      s"($qv[CAST(i AS INTEGER)] - $qc[CAST(i AS INTEGER)])))"
  /** Assign each row of `src` (vec_id, ev, qv) to its nearest centroid in
    * `cent` (cid, qc): exact integer argmin, ties to the lower cid. */
  private def kmAssignSql(src: String, cent: String): String =
    s"""SELECT vec_id, ev, qv, cid FROM (
          SELECT s.vec_id, s.ev, s.qv, c.cid,
                 row_number() OVER (PARTITION BY s.vec_id ORDER BY
                   ${kmDistSql("s.qv", "c.qc")}, c.cid) AS rn
          FROM $src s CROSS JOIN $cent c) WHERE rn = 1"""
  /** Per-(cid, dim) count + quantized mean over an assignment CTE. */
  private def kmMeanSql(assign: String): String =
    s"""SELECT cid, CAST(i AS INTEGER) - 1 AS dim, count(*) AS n,
               CAST(round(CAST(sum(qv[CAST(i AS INTEGER)]) AS DOUBLE)
                 / count(*)) AS BIGINT) AS qc
        FROM $assign, UNNEST(generate_series(1, len(qv))) AS t(i)
        GROUP BY 1, 2"""

  /** PQ pipeline CTE chain (twin of SimilarityOps.pqAdc arithmetic:
    * m=4 subspaces of 16 dims, 8-entry sub-codebooks, 1 Lloyd round).
    * Expects `cq` (corpus: vec_id, qv) and `qq` (queries: vec_id, qv)
    * to be defined; emits `enc` (corpus codes: vec_id, sub, cid) and
    * `qd` (query distance table: query_id, sub, cid, d).
    */
  /** IVF-PQ replay through the ADC ranking — the shared prelude of
    * `ivfpq_topk` and `ivfpq_rerank_topk` (ends with CTE `ranked`).
    */
  private lazy val ivfpqRankedCte: String = s"""
        WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                             $qzSql AS qv
                      FROM embeddings WHERE vec_id >= 10),
        qry AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                       $qzSql AS qv
                FROM embeddings WHERE vec_id < 10),
        cc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER)
                         - 1 AS cid, qv AS qc
                FROM (SELECT vec_id, qv FROM corp ORDER BY vec_id LIMIT 4)),
        ca1 AS (${kmAssignSql("corp", "cc0")}),
        cu1 AS (${kmMeanSql("ca1")}),
        cc1 AS (SELECT cid, list(qc ORDER BY dim) AS qc
                FROM cu1 GROUP BY cid),
        cellc AS (SELECT vec_id, cid AS cell
                  FROM (${kmAssignSql("corp", "cc1")})),
        cellq AS (SELECT vec_id, cid AS cell
                  FROM (${kmAssignSql("qry", "cc1")})),
        cq AS (SELECT vec_id, qv FROM corp),
        qq AS (SELECT vec_id, qv FROM qry),
        $pqPipelineSql,
        adc AS (SELECT qd.query_id, enc.vec_id AS corpus_id,
                       sum(qd.d) AS dist
                FROM enc JOIN qd ON enc.sub = qd.sub AND enc.cid = qd.cid
                JOIN cellc ON cellc.vec_id = enc.vec_id
                JOIN cellq ON cellq.vec_id = qd.query_id
                          AND cellq.cell = cellc.cell
                GROUP BY 1, 2),
        ranked AS (SELECT query_id, corpus_id, dist,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, corpus_id) AS rnk
                   FROM adc)"""

  /** TWO-LEVEL IVF-PQ replay: the coarse trajectory (k1=2, lowest-id
    * init, one exact Lloyd update) refined per coarse cell by k2=2
    * sub-centroids (lowest-id init, one update, ties to lower sub) —
    * the [[graft.ops.SimilarityOps.writeIvfPqIndexTwoLevel]] build —
    * composed with the same PQ/ADC replay as `ivfpqRankedCte`. Combined
    * cell id = c1*2 + sub on both corpus and query sides.
    */
  private lazy val ivfpq2RankedCte: String = s"""
        WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                             $qzSql AS qv
                      FROM embeddings WHERE vec_id >= 10),
        qry AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                       $qzSql AS qv
                FROM embeddings WHERE vec_id < 10),
        cc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER)
                         - 1 AS cid, qv AS qc
                FROM (SELECT vec_id, qv FROM corp ORDER BY vec_id LIMIT 2)),
        ca1 AS (${kmAssignSql("corp", "cc0")}),
        cu1 AS (${kmMeanSql("ca1")}),
        cc1 AS (SELECT cid, list(qc ORDER BY dim) AS qc
                FROM cu1 GROUP BY cid),
        ax AS (SELECT vec_id, ev, qv, cid AS c1
               FROM (${kmAssignSql("corp", "cc1")})),
        s0 AS (SELECT c1, CAST(rn - 1 AS INTEGER) AS sub, qv AS sqc
               FROM (SELECT c1, qv, row_number() OVER (PARTITION BY c1
                       ORDER BY vec_id) AS rn
                     FROM ax)
               WHERE rn <= 2),
        sa1 AS (SELECT vec_id, qv, c1, sub FROM (
                  SELECT a.vec_id, a.qv, a.c1, s.sub,
                         row_number() OVER (PARTITION BY a.vec_id
                           ORDER BY ${kmDistSql("a.qv", "s.sqc")}, s.sub)
                           AS rn
                  FROM ax a JOIN s0 s ON a.c1 = s.c1) WHERE rn = 1),
        su1 AS (SELECT c1, sub, CAST(i AS INTEGER) - 1 AS dim,
                       CAST(round(CAST(sum(qv[CAST(i AS INTEGER)])
                         AS DOUBLE) / count(*)) AS BIGINT) AS qc
                FROM sa1, UNNEST(generate_series(1, len(qv))) AS t(i)
                GROUP BY 1, 2, 3),
        sc1 AS (SELECT c1, sub, list(qc ORDER BY dim) AS sqc
                FROM su1 GROUP BY 1, 2),
        cellc AS (SELECT vec_id, CAST(c1 * 2 + sub AS INTEGER) AS cell
                  FROM (
                    SELECT a.vec_id, a.c1, s.sub,
                           row_number() OVER (PARTITION BY a.vec_id
                             ORDER BY ${kmDistSql("a.qv", "s.sqc")}, s.sub)
                             AS rn
                    FROM ax a JOIN sc1 s ON a.c1 = s.c1) WHERE rn = 1),
        qa1 AS (SELECT vec_id, qv, cid AS c1
                FROM (${kmAssignSql("qry", "cc1")})),
        cellq AS (SELECT vec_id, CAST(c1 * 2 + sub AS INTEGER) AS cell
                  FROM (
                    SELECT a.vec_id, a.c1, s.sub,
                           row_number() OVER (PARTITION BY a.vec_id
                             ORDER BY ${kmDistSql("a.qv", "s.sqc")}, s.sub)
                             AS rn
                    FROM qa1 a JOIN sc1 s ON a.c1 = s.c1) WHERE rn = 1),
        cq AS (SELECT vec_id, qv FROM corp),
        qq AS (SELECT vec_id, qv FROM qry),
        $pqPipelineSql,
        adc AS (SELECT qd.query_id, enc.vec_id AS corpus_id,
                       sum(qd.d) AS dist
                FROM enc JOIN qd ON enc.sub = qd.sub AND enc.cid = qd.cid
                JOIN cellc ON cellc.vec_id = enc.vec_id
                JOIN cellq ON cellq.vec_id = qd.query_id
                          AND cellq.cell = cellc.cell
                GROUP BY 1, 2),
        ranked AS (SELECT query_id, corpus_id, dist,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, corpus_id) AS rnk
                   FROM adc)"""

  private def pqDistSql(a: String, b: String, subLen: Int): String =
    s"list_sum(list_transform(generate_series(1, $subLen), i -> " +
      s"($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)]) * " +
      s"($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)])))"
  private def pqAssignSql(src: String, cent: String, keep: String,
                          subLen: Int): String =
    s"""SELECT $keep, sub, cid FROM (
          SELECT s.*, c.cid,
                 row_number() OVER (PARTITION BY s.vec_id, s.sub
                   ORDER BY ${pqDistSql("s.qs", "c.qc", subLen)}, c.cid)
                   AS rn
          FROM $src s JOIN $cent c ON s.sub = c.sub) WHERE rn = 1"""
  private def pqPipelineSql: String = {
    val m = 4; val subLen = 16; val cbK = 8
    s"""cs AS (SELECT vec_id, CAST(t.sub AS INTEGER) AS sub,
                      qv[CAST(t.sub * $subLen + 1 AS INTEGER) :
                         CAST(t.sub * $subLen + $subLen AS INTEGER)] AS qs
               FROM cq, UNNEST(generate_series(0, ${m - 1})) AS t(sub)),
        qsub AS (SELECT vec_id, CAST(t.sub AS INTEGER) AS sub,
                        qv[CAST(t.sub * $subLen + 1 AS INTEGER) :
                           CAST(t.sub * $subLen + $subLen AS INTEGER)] AS qs
                 FROM qq, UNNEST(generate_series(0, ${m - 1})) AS t(sub)),
        init AS (SELECT vec_id,
                        CAST(row_number() OVER (ORDER BY vec_id)
                          AS INTEGER) - 1 AS cid
                 FROM (SELECT vec_id FROM cq ORDER BY vec_id LIMIT $cbK)),
        c0 AS (SELECT cs.sub, init.cid, cs.qs AS qc
               FROM cs JOIN init USING (vec_id)),
        a1 AS (${pqAssignSql("cs", "c0", "vec_id, qs", subLen)}),
        u1 AS (SELECT sub, cid, CAST(i AS INTEGER) - 1 AS dim,
                      CAST(round(CAST(sum(qs[CAST(i AS INTEGER)])
                        AS DOUBLE) / count(*)) AS BIGINT) AS qc
               FROM a1, UNNEST(generate_series(1, $subLen)) AS t(i)
               GROUP BY 1, 2, 3),
        c1 AS (SELECT c0.sub, c0.cid, COALESCE(l.qc, c0.qc) AS qc
               FROM c0 LEFT JOIN (SELECT sub, cid,
                                         list(qc ORDER BY dim) AS qc
                                  FROM u1 GROUP BY 1, 2) l
                 ON c0.sub = l.sub AND c0.cid = l.cid),
        enc AS (${pqAssignSql("cs", "c1", "vec_id", subLen)}),
        qd AS (SELECT s.vec_id AS query_id, s.sub, c.cid,
                      ${pqDistSql("s.qs", "c.qc", subLen)} AS d
               FROM qsub s JOIN c1 c ON s.sub = c.sub)"""
  }

  /** CTEs computing the 64-bit SimHash signature per doc in DuckDB — the
    * twin of HashKernels.simhash64. Bit b of the big-endian 16-hex-char
    * value lives in hex char (16 - b/4) at nibble bit (b % 4); votes are
    * sum(2*bit - 1); the signed long is rebuilt with -2^63 for bit 63.
    */
  private def simhashSigSql: String = {
    val votes = (0 until 64).map { b =>
      val ch = 16 - b / 4
      val p = 1 << (b % 4)
      s"sum(2 * (((strpos('0123456789abcdef', substr(md5(s), $ch, 1)) - 1)" +
        s" // $p) % 2) - 1) AS v$b"
    }.mkString(",\n               ")
    val sig = (0 until 64).map { b =>
      val w = if (b == 63) "-9223372036854775808"
              else (1L << b).toString
      s"(CASE WHEN v$b > 0 THEN CAST($w AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
            array_to_string(list_slice(ws, CAST(i AS INTEGER),
              CAST(i AS INTEGER) + 1), ' ') AS s
          FROM w, UNNEST(generate_series(1, greatest(len(ws) - 1, 1)))
            AS t(i)),
        v AS (SELECT doc_id,
               $votes
              FROM sh GROUP BY 1),
        sig AS (SELECT doc_id, $sig AS simhash FROM v)"""
  }

  def defs: Map[String, Entry] = Map(

    // Exact dedup via md5-hash groupBy (narrow shuffle keys at scale).
    "dedup_exact" -> Entry(
      (s, dir) => DedupOps.exactDuplicateGroups(Tables.documents(s, dir)),
      Some("""
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1""")),

    // A10: duplicate-rate per group (Milestone4 cell 9).
    "a10_duplicate_rate" -> Entry(
      (s, dir) => DedupOps.duplicateRate(Tables.documents(s, dir), "lang"),
      Some("""
        SELECT lang, count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_distinct,
               CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
                 / count(*) AS dup_rate
        FROM documents GROUP BY 1""")),

    // Decontamination: drop train docs sharing any word 5-gram with the
    // eval slice (doc_id % 17 == 0) — the GPT-3 n-gram-overlap discipline.
    "corpus_decontaminate" -> Entry(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        DedupOps.decontaminate(
            docs.filter(col("doc_id") % 17 =!= 0),
            docs.filter(col("doc_id") % 17 === 0), n = 5)
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("""
        WITH te AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE doc_id % 17 = 0),
        tr AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE doc_id % 17 <> 0),
        teg AS (SELECT DISTINCT array_to_string(list_slice(ws,
                  CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ') AS g
                FROM te, UNNEST(generate_series(1, greatest(len(ws) - 4, 1)))
                  AS t(i)),
        trg AS (SELECT DISTINCT doc_id, array_to_string(list_slice(ws,
                  CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ') AS g
                FROM tr, UNNEST(generate_series(1, greatest(len(ws) - 4, 1)))
                  AS t(i)),
        bad AS (SELECT DISTINCT trg.doc_id FROM trg JOIN teg USING (g))
        SELECT d.doc_id, d.lang, d.source FROM documents d
        WHERE d.doc_id % 17 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM bad)""")),

    // Bloom-filter decontamination: same contract as corpus_decontaminate
    // but the eval grams collapse into a Bloom bitset that rides the plan
    // as a literal — the train side probes it in a narrow scan, NO join.
    // The bitset is SIZED FROM THE EVAL SIDE (next power of two >= 16
    // bits per distinct eval gram, floor 64, cap 2^27) — the oracle
    // replays the sizing with an integer doubling CTE, then the exact
    // flags (false positives included) via a distinct-positions
    // semi-join — mathematically the same bitset.
    "bloom_decontaminate" -> Entry(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        DedupOps.bloomDecontaminate(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0),
          n = 5, numHashes = 3)
      },
      Some("""
        WITH RECURSIVE te AS (SELECT string_split(text, ' ') AS ws
                    FROM documents WHERE doc_id % 17 = 0),
        teg AS (SELECT DISTINCT array_to_string(list_slice(ws,
                  CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ') AS g
                FROM te, UNNEST(generate_series(1, greatest(len(ws) - 4, 1)))
                  AS t(i)),
        nbit(b) AS (SELECT CAST(64 AS UBIGINT)
                    UNION ALL
                    SELECT b * 2 FROM nbit
                    WHERE b < least((SELECT count(*) * 16 FROM teg)::UBIGINT,
                                    CAST(134217728 AS UBIGINT))),
        nb AS (SELECT max(b) AS m FROM nbit),
        pos AS (SELECT DISTINCT p FROM (
                  SELECT ('0x' || substr(md5(g), 1, 8))::UBIGINT
                           % (SELECT m FROM nb) AS p FROM teg
                  UNION
                  SELECT ('0x' || substr(md5(g), 9, 8))::UBIGINT
                           % (SELECT m FROM nb) FROM teg
                  UNION
                  SELECT ('0x' || substr(md5(g), 17, 8))::UBIGINT
                           % (SELECT m FROM nb) FROM teg) u),
        tr AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE doc_id % 17 <> 0),
        trg AS (SELECT DISTINCT doc_id, array_to_string(list_slice(ws,
                  CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ') AS g
                FROM tr, UNNEST(generate_series(1, greatest(len(ws) - 4, 1)))
                  AS t(i))
        SELECT doc_id, count(*) AS n_grams,
               bool_or(
                 ('0x' || substr(md5(g), 1, 8))::UBIGINT % (SELECT m FROM nb)
                   IN (SELECT p FROM pos)
                 AND ('0x' || substr(md5(g), 9, 8))::UBIGINT % (SELECT m FROM nb)
                   IN (SELECT p FROM pos)
                 AND ('0x' || substr(md5(g), 17, 8))::UBIGINT % (SELECT m FROM nb)
                   IN (SELECT p FROM pos)) AS bloom_hit
        FROM trg GROUP BY doc_id""")),

    // Dedup clusters: connected components over the MinHash candidate
    // pairs (min-label propagation in Spark; WITH RECURSIVE reachability
    // in the oracle).
    "dedup_clusters" -> Entry(
      (s, dir) => DedupOps.dupClusters(
        DedupOps.minhashCandidates(Tables.documents(s, dir))),
      Some(s"""$minhashCcCte
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1""")),

    // End-to-end dedup APPLY — the user-facing half of the cluster pass:
    // keep every doc that is either untouched by any candidate pair or
    // its cluster's min-id representative, and emit the surviving corpus.
    // Plan: clusters (banded LSH + pointer-doubling CC) -> non-rep ids ->
    // one left-anti join against the corpus; nothing re-scans text.
    "dedup_apply" -> Entry(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val clusters = DedupOps.dupClusters(
          DedupOps.minhashCandidates(docs))
        docs.join(clusters.filter(col("doc_id") =!= col("cluster_id"))
            .select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some(s"""$minhashCcCte,
        comp AS (SELECT id AS doc_id, min(r) AS cluster_id
                 FROM reach GROUP BY 1)
        SELECT d.doc_id, d.lang, d.source FROM documents d
        WHERE d.doc_id NOT IN
          (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)""")),

    // Straggler-regime CC: the same minhash candidate graph PLUS one
    // 96-link path of id-derived edges over minhash SINGLETONS
    // (consecutive ids among the smallest 96 stratum docs that appear
    // in NO candidate pair — every band bucket they occupy has exactly
    // one member). The minhash bulk — near-dup cliques — converges in
    // 2-3 doubling rounds with a wide changed-vertex frontier; the
    // singleton path's diameter then forces ~5 more rounds in which the
    // frontier is a handful of chain vertices, i.e. the SPARSE-frontier
    // regime the cached-edge bucket pruning gate (DedupOps.dupClusters,
    // frontier ≤ B/8 buckets) exists for: without the gate every
    // straggler round re-scans the whole cached O(E) edge frame for a
    // frontier of <100 vertices. The singleton restriction is what
    // makes the regime reachable: a chain over arbitrary docs drags
    // each doc's whole near-dup clique into the relabeling wave
    // (measured 255/256-bucket frontiers for 6 straight rounds at sf1),
    // while LSH candidates alone can't express a path at all (near-dup
    // similarity is nearly transitive — text-derived graphs are
    // cliques; r14 telemetry: 255/256 frontiers for all rounds on
    // every ScaleUp fixture). The banding is computed twice (once for
    // the pair set, once for the singleton filter) — the entry's
    // documented cost over plain dedup_clusters, alongside the extra
    // straggler rounds it exists to measure. The oracle replays the
    // identical pair union through the same recursive reachability
    // closure.
    "dedup_clusters_chain" -> Entry(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val banded = DedupOps.minhashBands(docs)
        // docs sharing any band bucket with another doc are paired;
        // chain vertices must be singletons (see above)
        val paired = banded
          .join(banded.groupBy(col("band"), col("band_hash"))
              .agg(count(lit(1)).as("c")).filter(col("c") >= 2),
            Seq("band", "band_hash"))
          .select(col("doc_id")).distinct()
        // smallest 96 singleton stratum ids via distributed top-k
        // (TakeOrderedAndProject), THEN the trivial 96-row window
        val seq = docs.filter(col("doc_id") % 11 === 3)
          .select(col("doc_id")).distinct()
          .join(paired, Seq("doc_id"), "left_anti")
          .orderBy(col("doc_id")).limit(96)
          .withColumn("rn",
            row_number().over(Window.orderBy(col("doc_id"))))
        val chain = seq.as("a").join(seq.as("b"),
            col("b.rn") === col("a.rn") + 1)
          .select(col("a.doc_id").as("doc_a"),
            col("b.doc_id").as("doc_b"))
        DedupOps.dupClusters(
          DedupOps.minhashCandidatesBands(banded)
            .select("doc_a", "doc_b")
            .unionByName(chain))
      },
      Some(s"""$minhashChainCcCte
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1"""),
      // diagnostic regime by construction: the path forces ~2x the
      // rounds plain dedup_clusters needs, to measure the pruning gate —
      // the production posture stays dedup_clusters/dedup_apply
      probe = true),

    // Leakage-proof split: near-dup cluster members share a split (split
    // decided by md5 of the min-id cluster representative, not the
    // document's own content hash) — content-hash splitting alone sends
    // paraphrases of one page to both train and test, and held-out
    // metrics silently measure memorization. Reuses the dedup pass's
    // cluster labels; the oracle composes the recursive-CC prelude with
    // the representative-hash CASE.
    "cluster_safe_split" -> Entry(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val clusters = DedupOps.dupClusters(
          DedupOps.minhashCandidates(docs))
        graft.ops.CorpusOps.clusterSafeSplit(docs, clusters)
          .select(col("doc_id"), col("lang"), col("rep_id"), col("split"))
      },
      Some(s"""$minhashCcCte,
        comp AS (SELECT id AS doc_id, min(r) AS cluster_id
                 FROM reach GROUP BY 1)
        SELECT d.doc_id, d.lang,
               COALESCE(comp.cluster_id, d.doc_id) AS rep_id,
               CASE WHEN substring(md5(CAST(COALESCE(comp.cluster_id,
                      d.doc_id) AS VARCHAR)), 1, 2) < '0a' THEN 'test'
                    WHEN substring(md5(CAST(COALESCE(comp.cluster_id,
                      d.doc_id) AS VARCHAR)), 1, 2) < '14' THEN 'val'
                    ELSE 'train' END AS split
        FROM documents d LEFT JOIN comp USING (doc_id)""")),

    // MinHash + LSH banding candidate pairs (16 hashes, 4 bands of 4).
    // MD5-hex min over seeded shingle hashes = portable min-hash.
    // MinHash Jaccard estimate over the banded candidates — the cheap
    // triage stage between banding and exact verification: n_agree of
    // the 16-hash signatures and est_jaccard = n_agree/16 (unbiased,
    // se ~ sqrt(J(1-J)/16)). Oracle replays signatures, band hashes,
    // candidacy, and the per-pair agreement count.
    "minhash_jaccard_est" -> Entry(
      (s, dir) => DedupOps.minhashEstimatedPairs(Tables.documents(s, dir)),
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
            array_to_string(list_slice(ws, CAST(i AS INTEGER),
              CAST(i AS INTEGER) + 2), ' ') AS s
          FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 1)))
            AS t(i)),
        mh AS (
          SELECT doc_id, CAST(h AS INTEGER) AS h,
                 min(md5(CAST(h AS VARCHAR) || '|' || s)) AS minh
          FROM sh, UNNEST(generate_series(0, 15)) AS ht(h)
          GROUP BY 1, 2),
        bands AS (
          SELECT doc_id, h // 4 AS band,
                 md5(string_agg(minh, '|' ORDER BY h)) AS band_hash
          FROM mh GROUP BY 1, 2),
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS n_shared_bands
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        agr AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(sum(CASE WHEN x.minh = y.minh THEN 1 ELSE 0 END)
                   AS INTEGER) AS n_agree
          FROM cand c
          JOIN mh x ON x.doc_id = c.doc_a
          JOIN mh y ON y.doc_id = c.doc_b AND y.h = x.h
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_shared_bands, n_agree,
               CAST(n_agree AS DOUBLE) / 16 AS est_jaccard
        FROM cand JOIN agr USING (doc_a, doc_b)""")),

    // Estimate-TRIAGED dedup apply: candidates split by the signature
    // estimate into sure-dup (n_agree >= 12 of 16 — no text access),
    // sure-distinct (<= 4), and an uncertain band where alone the exact
    // shingle Jaccard runs (>= 0.5). Confirmed edges -> components ->
    // min-id survivors. The oracle replays signatures, estimate
    // thresholds, the middle-band exact verify, and the recursive CC.
    "dedup_triage_apply" -> Entry(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        DedupOps.minhashTriageApply(docs, jaccardThreshold = 0.5,
            estLo = 0.25, estHi = 0.75)
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("""
        WITH RECURSIVE w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
            array_to_string(list_slice(ws, CAST(i AS INTEGER),
              CAST(i AS INTEGER) + 2), ' ') AS s
          FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 1)))
            AS t(i)),
        mh AS (
          SELECT doc_id, CAST(h AS INTEGER) AS h,
                 min(md5(CAST(h AS VARCHAR) || '|' || s)) AS minh
          FROM sh, UNNEST(generate_series(0, 15)) AS ht(h)
          GROUP BY 1, 2),
        bands AS (
          SELECT doc_id, h // 4 AS band,
                 md5(string_agg(minh, '|' ORDER BY h)) AS band_hash
          FROM mh GROUP BY 1, 2),
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        agr AS (
          SELECT c.doc_a, c.doc_b,
                 sum(CASE WHEN x.minh = y.minh THEN 1 ELSE 0 END)
                   AS n_agree
          FROM cand c
          JOIN mh x ON x.doc_id = c.doc_a
          JOIN mh y ON y.doc_id = c.doc_b AND y.h = x.h
          GROUP BY 1, 2),
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        mid AS (SELECT doc_a, doc_b FROM agr
                WHERE n_agree < 12 AND n_agree > 4),
        inter AS (
          SELECT m.doc_a, m.doc_b, count(*) AS i
          FROM mid m
          JOIN sh x ON x.doc_id = m.doc_a
          JOIN sh y ON y.doc_id = m.doc_b AND y.s = x.s
          GROUP BY 1, 2),
        ver AS (
          SELECT m.doc_a, m.doc_b
          FROM mid m
          LEFT JOIN inter i USING (doc_a, doc_b)
          JOIN cnt ca ON ca.doc_id = m.doc_a
          JOIN cnt cb ON cb.doc_id = m.doc_b
          WHERE CAST(COALESCE(i.i, 0) AS DOUBLE) /
                (ca.n + cb.n - COALESCE(i.i, 0)) >= 0.5),
        pairs AS (SELECT doc_a, doc_b FROM agr WHERE n_agree >= 12
                  UNION SELECT doc_a, doc_b FROM ver),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT reach.id, edges.dst
          FROM reach JOIN edges ON reach.r = edges.src),
        comp AS (SELECT id AS doc_id, min(r) AS cluster_id
                 FROM reach GROUP BY 1)
        SELECT d.doc_id, d.lang, d.source FROM documents d
        WHERE d.doc_id NOT IN
          (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)""")),

    "dedup_minhash_lsh" -> Entry(
      (s, dir) => DedupOps.minhashCandidates(Tables.documents(s, dir)),
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
            array_to_string(list_slice(ws, CAST(i AS INTEGER),
              CAST(i AS INTEGER) + 2), ' ') AS s
          FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 1)))
            AS t(i)),
        mh AS (
          SELECT doc_id, CAST(h AS INTEGER) AS h,
                 min(md5(CAST(h AS VARCHAR) || '|' || s)) AS minh
          FROM sh, UNNEST(generate_series(0, 15)) AS ht(h)
          GROUP BY 1, 2),
        bands AS (
          SELECT doc_id, h // 4 AS band,
                 md5(string_agg(minh, '|' ORDER BY h)) AS band_hash
          FROM mh GROUP BY 1, 2)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS n_shared_bands
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2""")),

    // Incremental dedup against an ON-DISK MinHash index: the corpus's
    // band hashes are materialized once as bucket-partitioned parquet
    // (Scratch: write-once per JVM, so the bench times the PROBE), and a
    // new batch is checked for near-dups against it via partition-pruned
    // scan + broadcast join — probe cost scales with the batch, never the
    // corpus (DedupOps.writeMinhashIndex/minhashIndexProbe; the 100 TB
    // ingest path). Oracle replays the banding for both sides and joins.
    "minhash_index_probe" -> Entry(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val idx = graft.sources.Scratch.materialize("mhidx", dir) { path =>
          DedupOps.writeMinhashIndex(
            docs.filter(col("doc_id") % 10 =!= 0), s"$path/idx")
        } + "/idx"
        DedupOps.minhashIndexProbe(s, idx,
          docs.filter(col("doc_id") % 10 === 0))
      },
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
            array_to_string(list_slice(ws, CAST(i AS INTEGER),
              CAST(i AS INTEGER) + 2), ' ') AS s
          FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 1)))
            AS t(i)),
        mh AS (
          SELECT doc_id, CAST(h AS INTEGER) AS h,
                 min(md5(CAST(h AS VARCHAR) || '|' || s)) AS minh
          FROM sh, UNNEST(generate_series(0, 15)) AS ht(h)
          GROUP BY 1, 2),
        bands AS (
          SELECT doc_id, h // 4 AS band,
                 md5(string_agg(minh, '|' ORDER BY h)) AS band_hash
          FROM mh GROUP BY 1, 2)
        SELECT a.doc_id AS doc_new, b.doc_id AS doc_corpus,
               count(*) AS n_shared_bands
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_hash = b.band_hash
        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        GROUP BY 1, 2""")),

    // GC/retention contract of the commit-manifest index machinery,
    // pinned the way layout_file_stats pins layout: build a minhash
    // index, drive three append+incremental-compaction cycles, then
    // audit the root (IndexMaintenance.manifestStats). The INVARIANTS
    // are exact and replayable: 2 retained manifests and base
    // generations (retention depth), live generation = 1 initial write
    // + 3 folds = 4, zero unreferenced base dirs after prune, zero
    // committed delta/fold files, and the live base holds exactly
    // 4 band rows per indexed doc (16 minhashes / 4-row bands) — the
    // row count DuckDB recomputes from the documents table.
    "index_manifest_gc" -> Entry(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val idx = graft.sources.Scratch.materialize("mhgc", dir) { path =>
          DedupOps.writeMinhashIndex(
            docs.filter(col("doc_id") < 100), s"$path/idx")
          (0 until 3).foreach { i =>
            DedupOps.appendMinhashIndexBands(
              DedupOps.minhashBands(docs.filter(
                col("doc_id") >= 100 + 2 * i &&
                col("doc_id") < 102 + 2 * i)),
              s"$path/idx")
            DedupOps.compactMinhashIndexIncremental(s, s"$path/idx")
          }
        } + "/idx"
        val live = s.read.parquet(
          graft.ops.IndexMaintenance.currentBase(s, idx))
        graft.ops.IndexMaintenance.manifestStats(s, idx)
          .crossJoin(live.agg(count(lit(1)).as("n_rows"),
            countDistinct(col("doc_id")).as("n_docs")))
      },
      Some("""
        SELECT CAST(2 AS BIGINT) AS n_manifests,
               CAST(4 AS BIGINT) AS live_gen,
               CAST(2 AS BIGINT) AS n_bases,
               CAST(0 AS BIGINT) AS n_orphans,
               CAST(0 AS BIGINT) AS delta_files,
               CAST(0 AS BIGINT) AS fold_files,
               CAST(4 * count(*) AS BIGINT) AS n_rows,
               count(*) AS n_docs
        FROM documents WHERE doc_id < 106""")),

    // Exact word-2-gram Jaccard similarity pairs above a floor —
    // the LSH verification stage, bounded to a doc subset. Join-key
    // shingles are df-capped at 50 (DedupOps.ngramJaccardPairs maxDf):
    // a stopword gram shared by f docs costs f² join rows on one key,
    // so the cap is what keeps the self-join linear-ish at corpus scale;
    // set sizes stay exact, intersections are a lower bound for pairs
    // sharing hot grams.
    "ngram_jaccard_pairs" -> Entry(
      (s, dir) => DedupOps.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
        n = 2, minJaccard = 0.05, maxDf = 50),
      Some("""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents WHERE doc_id % 10 = 0),
        sh AS (
          SELECT DISTINCT doc_id,
            array_to_string(list_slice(ws, CAST(i AS INTEGER),
              CAST(i AS INTEGER) + 1), ' ') AS s
          FROM d, UNNEST(generate_series(1, greatest(len(ws) - 1, 1)))
            AS t(i)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 50),
        kept AS (SELECT doc_id, s FROM sh
                 WHERE s NOT IN (SELECT s FROM hot)),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common)
                 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common)
                >= 0.05""")),

    // Duplicated n-gram coverage per doc (C4/RefinedWeb boilerplate
    // signal). Grams travel as 60-bit md5-prefix longs on BOTH engines,
    // so the df counts and the ratio are exact (ratio of exact ints —
    // identical IEEE division).
    "dup_ngram_coverage" -> Entry(
      (s, dir) => DedupOps.dupNgramCoverage(
        Tables.documents(s, dir), n = 3, minDf = 2),
      Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(array_to_string(list_slice(ws,
                    CAST(i AS INTEGER), CAST(i AS INTEGER) + 2), ' ')),
                    1, 15))::UBIGINT AS h
               FROM d, UNNEST(generate_series(1, greatest(len(ws) - 2, 1)))
                 AS t(i)),
        df AS (SELECT h, count(*) AS df FROM sh GROUP BY 1)
        SELECT doc_id, count(*) AS n_grams,
               CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_grams,
               CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) AS dup_gram_frac
        FROM sh JOIN df USING (h)
        GROUP BY 1""")),

    // End-to-end STREAMING dedup (StreamingDedup over a one-batch file
    // stream): a fresh per-invocation index is built from the doc_id%10==0
    // corpus slice, the whole documents table streams through as ONE
    // AvailableNow batch (no maxFilesPerTrigger -> all files in a single
    // batch, so the greedy keep-set is batch-split-invariant and
    // oracle-replayable), survivors land in parquet. Corpus-slice docs
    // self-match the index and drop; in-batch near-dup groups keep the
    // min id. Oracle replays the same MinHash banding as dedup_minhash_lsh.
    "stream_dedup_apply" -> Entry(
      (s, dir) => {
        // ephemeral root: deleted with the scratch space at JVM exit (a
        // bench soak must not accumulate an index copy per pass)
        val root = graft.sources.Scratch.ephemeral("sda")
        // the loop APPENDS to its index, so each invocation needs a
        // private copy — build the pristine index once per JVM (Scratch),
        // then filesystem-copy it (ms) instead of re-running the Spark
        // partitioned write every bench pass
        val srcIdx = graft.sources.Scratch.materialize("sdedup_idx", dir) {
          p => DedupOps.writeMinhashIndex(
            Tables.documents(s, dir).filter(col("doc_id") % 10 === 0), p)
        }
        val idx = s"$root/idx"
        locally {
          import java.nio.file.{Files, Path, Paths}
          val src = Paths.get(srcIdx); val dst = Paths.get(idx)
          val walk = Files.walk(src)
          try {
            val it = walk.iterator()
            while (it.hasNext) {
              val p: Path = it.next()
              val t = dst.resolve(src.relativize(p).toString)
              // hard-link instead of byte-copy: parquet files are
              // immutable and the loop only ever ADDS files to the
              // private copy, so linking is safe and the per-invocation
              // setup cost drops to directory-entry writes
              if (Files.isDirectory(p)) Files.createDirectories(t)
              else try Files.createLink(t, p)
              catch { case _: UnsupportedOperationException |
                           _: java.nio.file.FileSystemException =>
                Files.copy(p, t)
              }
            }
          } finally walk.close()
        }
        val sch = s.read.parquet(s"$dir/documents.parquet").schema
        // the %5 slice bounds the in-batch self-join while keeping the
        // corpus slice (%10) a subset, so index self-matching still fires
        val stream = s.readStream.schema(sch)
          .parquet(s"$dir/documents.parque*")
          .filter(col("doc_id") % 5 === 0)
        val q = graft.streaming.StreamingDedup.run(
          s, stream, idx, s"$root/out", s"$root/ckpt")
        try q.awaitTermination() finally q.stop()
        s.read.parquet(s"$root/out")
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
      },
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents WHERE doc_id % 5 = 0),
        sh AS (SELECT DISTINCT doc_id,
                 array_to_string(list_slice(ws, CAST(i AS INTEGER),
                   CAST(i AS INTEGER) + 2), ' ') AS s
               FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 1)))
                 AS t(i)),
        mh AS (SELECT doc_id, CAST(h AS INTEGER) AS h,
                 min(md5(CAST(h AS VARCHAR) || '|' || s)) AS minh
               FROM sh, UNNEST(generate_series(0, 15)) AS ht(h)
               GROUP BY 1, 2),
        bands AS (SELECT doc_id, h // 4 AS band,
                    md5(string_agg(minh, '|' ORDER BY h)) AS band_hash
                  FROM mh GROUP BY 1, 2),
        dupc AS (SELECT DISTINCT b.doc_id FROM bands b
                 JOIN bands c ON c.doc_id % 10 = 0 AND b.band = c.band
                   AND b.band_hash = c.band_hash),
        dupb AS (SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
                 ON a.band = b.band AND a.band_hash = b.band_hash
                   AND a.doc_id < b.doc_id)
        SELECT doc_id, md5(text) AS text_md5 FROM documents
        WHERE doc_id % 5 = 0
          AND doc_id NOT IN (SELECT doc_id FROM dupc)
          AND doc_id NOT IN (SELECT doc_id FROM dupb)""")),

    // Winnowing passage-dup pairs (MOSS fingerprinting): the window-min
    // selection runs over md5-prefix++position STRINGS, so tie-breaks and
    // the selected fingerprints replay exactly in SQL.
    "winnow_dup_pairs" -> Entry(
      (s, dir) => DedupOps.winnowDupPairs(
        Tables.documents(s, dir), n = 4, w = 4, minShared = 1, maxDf = 50),
      Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        g AS (SELECT doc_id, CAST(i AS INTEGER) - 1 AS pos,
                substr(md5(array_to_string(list_slice(ws,
                  CAST(i AS INTEGER), CAST(i AS INTEGER) + 3), ' ')), 1, 15)
                  || lpad(CAST(CAST(i AS INTEGER) - 1 AS VARCHAR), 8, '0')
                  AS key
              FROM d, UNNEST(generate_series(1, greatest(len(ws) - 3, 1)))
                AS t(i)),
        w AS (SELECT doc_id, pos,
                min(key) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
                count(*) OVER (PARTITION BY doc_id) AS n_pos
              FROM g),
        fp AS (SELECT DISTINCT doc_id, substr(sel, 1, 15) AS fp
               FROM w WHERE pos <= greatest(n_pos - 4, 0)),
        hot AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 50),
        kept AS (SELECT doc_id, fp FROM fp
                 WHERE fp NOT IN (SELECT fp FROM hot))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2""")),

    // SimHash 64-bit signatures — md5-derived hash, so the exact signature
    // is replayed in SQL (bit votes from hex-nibble parsing).
    "dedup_simhash" -> Entry(
      (s, dir) => DedupOps.simhash(Tables.documents(s, dir)),
      Some(s"""
        WITH $simhashSigSql
        SELECT doc_id, simhash FROM sig""")),

    // Brute-force cosine top-k (ANN baseline): 10 query vectors vs the
    // rest of the corpus, k=5.
    // Trained IVF coarse quantizer: 2 Lloyd iterations, k=8, lowest-id
    // init. All arithmetic in 1e-6-quantized longs (vectors, squared
    // distances, centroid updates), so the full trajectory — including
    // argmin ties — is exact and the oracle replays it with unrolled
    // CTEs.
    "ivf_kmeans_centroids" -> Entry(
      (s, dir) => SimilarityOps.kmeansCentroids(
        Tables.embeddings(s, dir), k = 8, iters = 2),
      Some("""
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
          FROM embeddings),
        c0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1
                   AS cid, qv AS qc
          FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 8)),
        a1 AS (
          SELECT vec_id, qv, cid FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     list_sum(list_transform(
                       generate_series(1, len(q.qv)), i ->
                         (q.qv[CAST(i AS INTEGER)] - c.qc[CAST(i AS INTEGER)])
                       * (q.qv[CAST(i AS INTEGER)] - c.qc[CAST(i AS INTEGER)]))),
                     c.cid) AS rn
            FROM q CROSS JOIN c0 c) WHERE rn = 1),
        u1 AS (
          SELECT cid, CAST(i AS INTEGER) - 1 AS dim, count(*) AS n,
                 CAST(round(CAST(sum(qv[CAST(i AS INTEGER)]) AS DOUBLE)
                   / count(*)) AS BIGINT) AS qc
          FROM a1, UNNEST(generate_series(1, len(qv))) AS t(i)
          GROUP BY 1, 2),
        c1 AS (
          SELECT c0.cid, COALESCE(l.qc, c0.qc) AS qc
          FROM c0 LEFT JOIN (SELECT cid, list(qc ORDER BY dim) AS qc
                             FROM u1 GROUP BY cid) l
            ON c0.cid = l.cid),
        a2 AS (
          SELECT vec_id, qv, cid FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     list_sum(list_transform(
                       generate_series(1, len(q.qv)), i ->
                         (q.qv[CAST(i AS INTEGER)] - c.qc[CAST(i AS INTEGER)])
                       * (q.qv[CAST(i AS INTEGER)] - c.qc[CAST(i AS INTEGER)]))),
                     c.cid) AS rn
            FROM q CROSS JOIN c1 c) WHERE rn = 1),
        u2 AS (
          SELECT cid, CAST(i AS INTEGER) - 1 AS dim, count(*) AS n,
                 CAST(round(CAST(sum(qv[CAST(i AS INTEGER)]) AS DOUBLE)
                   / count(*)) AS BIGINT) AS qc
          FROM a2, UNNEST(generate_series(1, len(qv))) AS t(i)
          GROUP BY 1, 2)
        SELECT cid, dim, n AS n_vecs,
               CAST(qc AS DOUBLE) / 1000000 AS centroid
        FROM u2""")),

    // North-star ANN compression: product quantization + ADC top-k
    // (SimilarityOps.pqTopK). The oracle replays the whole pipeline —
    // subspace split, one Lloyd round per sub-codebook, encode, ADC —
    // in exact 1e-6-long arithmetic, so ranks hash-match.
    "pq_adc_topk" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        SimilarityOps.pqTopK(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          k = 5, dim = 64, m = 4, codebookK = 8, iters = 1)
      },
      Some(s"""
        WITH cq AS (SELECT vec_id, $qzSql AS qv
                    FROM embeddings WHERE vec_id >= 10),
        qq AS (SELECT vec_id, $qzSql AS qv
               FROM embeddings WHERE vec_id < 10),
        $pqPipelineSql,
        adc AS (SELECT qd.query_id, enc.vec_id AS corpus_id,
                       sum(qd.d) AS dist
                FROM enc JOIN qd ON enc.sub = qd.sub AND enc.cid = qd.cid
                GROUP BY 1, 2),
        ranked AS (SELECT query_id, corpus_id, dist,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, corpus_id) AS rnk
                   FROM adc)
        SELECT query_id, corpus_id,
               round(CAST(dist AS DOUBLE) / 1000000000000, 6)
                 AS approx_dist,
               CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 5""")),

    // North-star billion-scale ANN layout: IVF-PQ — trained coarse cells
    // (1 Lloyd round, 4 cells) restrict candidates, PQ codes carry the
    // distances (SimilarityOps.ivfPqTopK). Oracle = the coarse-quantizer
    // replay composed with the PQ replay, joined on cell equality
    // (ivfpqRankedCte, shared with the re-rank entry below).
    "ivfpq_topk" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        SimilarityOps.ivfPqTopK(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          k = 5, dim = 64, nCells = 4, cellIters = 1, m = 4,
          codebookK = 8, pqIters = 1)
      },
      Some(s"""$ivfpqRankedCte
        SELECT query_id, corpus_id,
               round(CAST(dist AS DOUBLE) / 1000000000000, 6)
                 AS approx_dist,
               CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 5""")),

    // IVF-PQ SERVING path: the index (coarse cells + PQ codebooks +
    // cell-partitioned codes) is built ONCE per JVM (Scratch) and probes
    // run train-free against the stored artifacts — the build/serve
    // split every real ANN deployment uses. Training and encoding replay
    // the exact ivfPqTopK pipeline, so the SAME oracle verifies the
    // on-disk round-trip; the bench delta vs ivfpq_topk is the measured
    // cost of retraining per query.
    "ivfpq_index_topk" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val idx = graft.sources.Scratch.materialize("ivfpq_idx", dir) {
          p => SimilarityOps.writeIvfPqIndex(
            e.filter(col("vec_id") >= 10), p, dim = 64, nCells = 4,
            cellIters = 1, m = 4, codebookK = 8, pqIters = 1)
        }
        SimilarityOps.ivfPqIndexTopK(s, idx,
          e.filter(col("vec_id") < 10), k = 5, dim = 64, m = 4)
      },
      Some(s"""$ivfpqRankedCte
        SELECT query_id, corpus_id,
               round(CAST(dist AS DOUBLE) / 1000000000000, 6)
                 AS approx_dist,
               CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 5""")),

    // TWO-LEVEL IVF-PQ serving index: coarse-cell count can track corpus
    // size without the flat build's O(n·nCells) assignment — k1·k2
    // effective cells for O(n·(k1+k2)) assignment work
    // (writeIvfPqIndexTwoLevel; the semantic_dedup_2level
    // inverted-multi-index trick applied to the serving index). Probes
    // take the same two-stage assignment against the stored coarse +
    // sub centroids, then the shared cell-pruned ADC. The oracle
    // replays BOTH quantizer levels and the PQ/ADC trajectory.
    "ivfpq_2level_index_topk" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val idx = graft.sources.Scratch.materialize("ivfpq2_idx", dir) {
          p => SimilarityOps.writeIvfPqIndexTwoLevel(
            e.filter(col("vec_id") >= 10), p, dim = 64, k1 = 2, k2 = 2,
            cellIters = 1, m = 4, codebookK = 8, pqIters = 1)
        }
        SimilarityOps.ivfPqIndexTopKTwoLevel(s, idx,
          e.filter(col("vec_id") < 10), k = 5, dim = 64, m = 4)
      },
      Some(s"""$ivfpq2RankedCte
        SELECT query_id, corpus_id,
               round(CAST(dist AS DOUBLE) / 1000000000000, 6)
                 AS approx_dist,
               CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 5""")),

    // TWO-LEVEL assignment for the IN-QUERY IVF-PQ — the self-contained
    // retrain-per-call twin of ivfpq_2level_index_topk (exactly as
    // ivfpq_topk is the in-query twin of ivfpq_index_topk). Same build
    // parameters, so the same two-level oracle replay verifies it; the
    // measured delta vs the index entry is the per-call training cost,
    // and the delta vs ivfpq_topk is the second assignment stage
    // (crossover note in SCALE.md: two-level pays off when nCells
    // tracks corpus size, not at the fixture's 4 effective cells).
    "ivfpq_2level_topk" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        SimilarityOps.ivfPqTopKTwoLevel(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          k = 5, dim = 64, k1 = 2, k2 = 2, cellIters = 1, m = 4,
          codebookK = 8, pqIters = 1)
      },
      Some(s"""$ivfpq2RankedCte
        SELECT query_id, corpus_id,
               round(CAST(dist AS DOUBLE) / 1000000000000, 6)
                 AS approx_dist,
               CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 5""")),

    // Two-stage serving: the ADC ranking nominates 20 candidates per
    // query, exact cosine over the raw vectors re-ranks to top 5 — the
    // standard fidelity-recovery pattern on top of IVF-PQ. The oracle
    // reuses the full training/ADC replay and re-scores the candidate
    // set with the same exact-cosine idiom as knn_cosine_topk.
    "ivfpq_rerank_topk" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        SimilarityOps.ivfPqRerankTopK(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          k = 5, rerankR = 20, dim = 64, nCells = 4, cellIters = 1,
          m = 4, codebookK = 8, pqIters = 1)
      },
      Some(s"""$ivfpqRankedCte,
        cand AS (SELECT query_id, corpus_id FROM ranked WHERE rnk <= 20),
        qraw AS (SELECT vec_id AS query_id,
                        CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id < 10),
        craw AS (SELECT vec_id AS corpus_id,
                        CAST(embedding AS DOUBLE[]) AS cv
                 FROM embeddings WHERE vec_id >= 10),
        ex AS (SELECT cand.query_id, cand.corpus_id,
                      list_dot_product(qv, cv) /
                        (sqrt(list_dot_product(qv, qv)) *
                         sqrt(list_dot_product(cv, cv))) AS cos_raw
               FROM cand JOIN qraw USING (query_id)
                         JOIN craw USING (corpus_id)),
        rr AS (SELECT query_id, corpus_id, cos_raw,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_raw DESC, corpus_id) AS rrnk
               FROM ex)
        SELECT query_id, corpus_id, round(cos_raw, 6) AS cos_sim,
               CAST(rrnk AS INTEGER) AS rnk
        FROM rr WHERE rrnk <= 5""")),

    // Brute-force exact cosine top-k (query side vs corpus side) — the
    // ground-truth baseline the whole ANN family is recalled against.
    // O(queries x corpus): correct at any scale but quadratic-cost by
    // contract, which is why it is a probe row and the IVF/PQ entries
    // are the production postures.
    "knn_cosine_topk" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        SimilarityOps.bruteForceTopK(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), 5)
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= 10),
        scored AS (
          SELECT query_id, corpus_id,
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(cv, cv))) AS cos_raw
          FROM c, q),
        ranked AS (
          SELECT query_id, corpus_id, cos_raw,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_raw DESC, corpus_id) AS rnk
          FROM scored)
        SELECT query_id, corpus_id, round(cos_raw, 6) AS cos_sim,
               CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 5"""),
      // probe: exact brute-force all-pairs cosine top-k — the ground
      // truth the ANN family (ivf/pq/ivfpq entries) is recalled against
      probe = true),

    // ExactSubstr passage dedup (Lee et al. 2021, word grain): 8-word
    // spans duplicated anywhere keep only their globally-first
    // occurrence; later occurrences' words are cut and docs reassemble
    // positionally. The oracle groups by the md5-prefix span key and
    // replays the rank, coverage, and string_agg reassembly.
    "dedup_exact_substr" -> Entry(
      (s, dir) => DedupOps.exactSubstrDedup(Tables.documents(s, dir)),
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        g AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
                     substr(md5(array_to_string(list_slice(ws,
                       CAST(i AS INTEGER), CAST(i AS INTEGER) + 7), ' ')),
                       1, 15) AS h
              FROM w, UNNEST(generate_series(1, len(ws) - 7)) AS t(i)
              WHERE len(ws) >= 8),
        r AS (SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY h
                       ORDER BY doc_id, pos) AS rk
              FROM g),
        cov AS (SELECT DISTINCT doc_id, CAST(wi AS BIGINT) AS wi
                FROM r, UNNEST(generate_series(pos, pos + 7)) AS t(wi)
                WHERE rk >= 2),
        wx AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS wi,
                      ws[CAST(i AS INTEGER)] AS word
               FROM w, UNNEST(generate_series(1, len(ws))) AS t(i)),
        kept AS (SELECT wx.doc_id, wx.wi, wx.word
                 FROM wx LEFT JOIN cov
                   ON wx.doc_id = cov.doc_id AND wx.wi = cov.wi
                 WHERE cov.doc_id IS NULL),
        agg AS (SELECT doc_id, count(*) AS kept_words,
                       string_agg(word, ' ' ORDER BY wi) AS kept_text
                FROM kept GROUP BY 1)
        SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
               COALESCE(agg.kept_words, 0) AS kept_words,
               COALESCE(agg.kept_text, '') AS kept_text
        FROM w LEFT JOIN agg USING (doc_id)""")),

    // Measured recall of the banded near-dup path against the exact
    // threshold set — the eval every LSH deployment ships (ann_recall's
    // pair-mining twin): exact pairs at cos >= 0.3 (the quarantined
    // all-pairs form, legitimate here as bounded ground truth), banded
    // pairs as candidates, one summary row. Ratios of exact ints.
    "near_dup_recall" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val exact = SimilarityOps.cosineNearDupPairs(e, 0.3)
          .select(col("id_a"), col("id_b"))
        val banded = SimilarityOps.cosineNearDupPairsBucketed(e, 0.3,
            dim = 64, bands = 4, bandBits = 4)
          .select(col("id_a"), col("id_b"))
        exact.join(banded, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
          .select(col("n_exact"), col("hits"),
            (col("hits").cast("double") / col("n_exact")).as("recall"))
      },
      Some(s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings),
        exact AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          WHERE list_dot_product(a.e, b.e) /
                (sqrt(list_dot_product(a.e, a.e)) *
                 sqrt(list_dot_product(b.e, b.e))) >= 0.3),
        bk AS (SELECT vec_id, e, ${bucketSql("e", 64, 16)} AS bucket
               FROM v),
        banded AS (SELECT vec_id, e, bucket, CAST(k AS INTEGER) AS band,
                          (bucket >> (CAST(k AS INTEGER) * 4)) & 15
                            AS band_val
                   FROM bk, UNNEST(generate_series(0, 3)) AS t(k)),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_val = b.band_val
           AND a.vec_id < b.vec_id),
        h AS (SELECT count(*) AS hits
              FROM exact JOIN cand USING (id_a, id_b)),
        ne AS (SELECT count(*) AS n_exact FROM exact)
        SELECT n_exact, hits, CAST(hits AS DOUBLE) / n_exact AS recall
        FROM ne, h"""),
      // probe: recall audit — measures the banded production form
      // against a bounded exact-pairs truth set
      probe = true),

    // Recall@floor SWEEP over autoBandConfig's S-curve selection — the
    // eval that validates the parameter-selection algebra itself, not
    // just one operating point: five similarity floors map (via the
    // MMDS band-count formula) to five DISTINCT (bands, bandBits)
    // configs — 0.25→(6,2), 0.3→(10,3), 0.4→(8,3), 0.5→(7,3),
    // 0.6→(6,3) — each measured against exact ground truth. The configs
    // depend on n only through the log2(n) cap, inert for any corpus
    // >= 32 vectors, so the oracle replays them as constants.
    //
    // BOUNDED-SAMPLE posture (the 100 TB form SCALE.md prescribes, now
    // practiced by the entry itself): ground truth is mined over a
    // deterministic FIXED-SIZE anchor set (64 smallest md5(vec_id)) ×
    // the corpus — O(m·n), linear in the corpus — never the all-pairs
    // O(n²) form this entry used to carry. The candidate side is
    // denominator-matched: the banded scheme's pairs restricted to the
    // same anchors. Floors 0.5/0.6 have no organic pairs in this corpus
    // (its cosine mass stops below 0.5), so the eval corpus is densified
    // with DETERMINISTIC prefix-zeroed anchor twins: zeroing the first
    // K = 8 + (vec_id mod 24) coordinates is float-exact in both
    // engines and lands cos(anchor, twin) = ||tail||/||v|| in the
    // 0.7-0.95 band — honest, replayable ground truth where the high
    // floors have something to find. Exact pairs are mined ONCE at the
    // lowest floor; per-floor subsets filter the rounded score.
    "near_dup_recall_sweep" -> Entry(
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
        // parquet-metadata count; configs depend on n only via log2
        val nBase = e.count()
        // the 64-row anchor set is reused by four subplans (twins, both
        // exact sides, both banded sides): land it as a driver-local
        // relation (bounded: 64 rows x 64 floats) so each reuse is free
        // instead of re-running the md5 top-k scan or paying a
        // checkpoint job
        val anchors = {
          val a0 = SimilarityOps.hashSampleAnchors(e, 64)
          s.createDataFrame(
            java.util.Arrays.asList(a0.collect(): _*), a0.schema)
        }
        // K staged in its own projection: a col("vec_id") INSIDE the
        // transform lambda would lateral-resolve against the sibling
        // `vec_id + 1000000` alias (measured: K flipped to the offset
        // id), while outside a lambda it binds to the input — stage it
        // under an unambiguous name so both engines agree
        val twins = anchors
          .select(col("vec_id"), col("embedding"),
            (col("vec_id") % 24 + lit(8)).cast("int").as("_k"))
          .select((col("vec_id") + lit(1000000L)).as("vec_id"),
            transform(col("embedding"),
              (x, i) => when(i < col("_k"), lit(0.0f)).otherwise(x))
              .as("embedding"))
        val corpus = e.unionByName(twins)
        val floors = Seq(0.25, 0.3, 0.4, 0.5, 0.6)
        val configs = floors.map(f =>
          SimilarityOps.autoBandConfig(nBase + math.min(64L, nBase), f))
        // ONE fused job: all five configs' candidates off one shared
        // signature scan; exact pairs fanned out per floor by explode
        // (no per-leg checkpoint, no per-leg shuffle). restrictTo is
        // deliberately NOT passed: semi-filtering by the truth pairs
        // would re-evaluate the O(m·n) exact mine as a broadcast build,
        // which measured SLOWER here than shuffling the collision
        // stream through the distinct (SCALE.md) — the restricted form
        // wins only when the collision shuffle, not the mine, binds
        val exactRaw = SimilarityOps.anchorExactPairs(corpus, anchors,
          floors.min)
        val cand = SimilarityOps.anchorBandedCandidatesMulti(
            corpus, anchors, dim = 64, configs)
          .withColumn("_hit", lit(1))
        val legLit = floors.indices.map(i => struct(lit(i).as("leg"),
          lit(floors(i)).as("floor")))
        val exploded = exactRaw
          .select(col("anchor_id"), col("nbr_id"), col("cos_sim"),
            explode(array(legLit: _*)).as("lf"))
          .filter(col("cos_sim") >= col("lf.floor"))
          .select(col("anchor_id"), col("nbr_id"),
            col("lf.leg").as("leg"), col("lf.floor").as("floor"))
        // the static config frame drives the output so a floor whose
        // truth set is EMPTY still emits its row (n_exact=0, hits=0,
        // recall null) — the oracle's per-leg aggregates always emit
        // one row per leg, and the aggregate-side groupBy alone would
        // not
        val cfgDf = floors.indices
          .map(i => (i, floors(i), configs(i)._1, configs(i)._2))
          .toDF("leg", "floor", "bands", "band_bits")
        val perLeg = exploded
          .join(cand, Seq("leg", "anchor_id", "nbr_id"), "left")
          .groupBy(col("leg"))
          .agg(count(lit(1)).as("_ne"), count(col("_hit")).as("_h"))
        cfgDf.join(perLeg, Seq("leg"), "left")
          .select(col("floor"), col("bands"), col("band_bits"),
            coalesce(col("_ne"), lit(0L)).as("n_exact"),
            coalesce(col("_h"), lit(0L)).as("hits"),
            (coalesce(col("_h"), lit(0L)).cast("double") /
              coalesce(col("_ne"), lit(0L))).as("recall"))
      },
      Some {
        def leg(floor: String, bands: Int, bits: Int): String = {
          val mask = (1 << bits) - 1
          s"""
          (SELECT CAST($floor AS DOUBLE) AS floor,
                  $bands AS bands, $bits AS band_bits,
                  CAST(count(*) AS BIGINT) AS n_exact,
                  CAST(sum(CASE WHEN cd.anchor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS hits
           FROM ex LEFT JOIN
             (SELECT DISTINCT a.anchor_id, b.nbr_id
              FROM (SELECT vec_id AS anchor_id, CAST(k AS INTEGER) AS band,
                           (${bucketSql("e", 64, bands * bits)}
                             >> (CAST(k AS INTEGER) * $bits)) & $mask AS bv
                    FROM anch, UNNEST(generate_series(0, ${bands - 1}))
                      AS t(k)) a
              JOIN (SELECT vec_id AS nbr_id, CAST(k AS INTEGER) AS band,
                           (${bucketSql("e", 64, bands * bits)}
                             >> (CAST(k AS INTEGER) * $bits)) & $mask AS bv
                    FROM corpus, UNNEST(generate_series(0, ${bands - 1}))
                      AS t(k)) b
                ON a.band = b.band AND a.bv = b.bv
               AND a.anchor_id <> b.nbr_id) cd
             USING (anchor_id, nbr_id)
           WHERE round(ex.c, 6) >= $floor)"""
        }
        s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings),
        anch AS (SELECT vec_id, e FROM v
                 ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 64),
        twins AS (SELECT vec_id + 1000000 AS vec_id,
                         list_concat(
                           list_transform(
                             list_slice(e, 1,
                               CAST(8 + vec_id % 24 AS INTEGER)),
                             x -> CAST(0 AS DOUBLE)),
                           list_slice(e,
                             CAST(8 + vec_id % 24 AS INTEGER) + 1, 64))
                           AS e
                  FROM anch),
        corpus AS (SELECT vec_id, e FROM v
                   UNION ALL SELECT vec_id, e FROM twins),
        ex AS (
          SELECT a.vec_id AS anchor_id, c.vec_id AS nbr_id,
                 list_dot_product(a.e, c.e) /
                   (sqrt(list_dot_product(a.e, a.e)) *
                    sqrt(list_dot_product(c.e, c.e))) AS c
          FROM anch a JOIN corpus c ON a.vec_id <> c.vec_id
          WHERE list_dot_product(a.e, c.e) /
                  (sqrt(list_dot_product(a.e, a.e)) *
                   sqrt(list_dot_product(c.e, c.e))) >= 0.25)
        SELECT floor, bands, band_bits, n_exact, hits,
               CAST(hits AS DOUBLE) / n_exact AS recall
        FROM (${leg("0.25", 6, 2)}
              UNION ALL ${leg("0.3", 10, 3)}
              UNION ALL ${leg("0.4", 8, 3)}
              UNION ALL ${leg("0.5", 7, 3)}
              UNION ALL ${leg("0.6", 6, 3)})"""
      },
      // probe: recall-tuning audit — sweeps band configs of the banded
      // production form against a bounded exact truth set
      probe = true),

    // Hard-negative mining for contrastive training: per anchor, the 5
    // most cosine-similar corpus vectors with a DIFFERENT label — the
    // label predicate rides the scoring join, so only eligible pairs
    // reach the per-anchor rank.
    "hard_negatives" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        SimilarityOps.hardNegatives(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), 5)
      },
      Some("""
        WITH q AS (SELECT vec_id AS anchor_id, label AS ql,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS negative_id, label AS cl,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= 10),
        scored AS (
          SELECT anchor_id, negative_id, cl,
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(cv, cv))) AS cos_raw
          FROM c JOIN q ON ql <> cl),
        ranked AS (
          SELECT anchor_id, negative_id, cl, cos_raw,
                 row_number() OVER (PARTITION BY anchor_id
                   ORDER BY cos_raw DESC, negative_id) AS rnk
          FROM scored)
        SELECT anchor_id, negative_id, cl AS negative_label,
               round(cos_raw, 6) AS cos_sim, CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 5""")),

    // Embedding-cosine near-duplicate pairs, banded sign-LSH form over
    // the FULL table (SimilarityOps.cosineNearDupPairsBucketed): 4 bands
    // of 4 hyperplane bits generate candidates, exact cosine verifies —
    // linear-ish candidate volume instead of the all-pairs crossJoin
    // (which survives as the spec-level ground truth,
    // SimilarityOps.cosineNearDupPairs). The hyperplanes are the
    // deterministic lshBucket mix, so the oracle replays band assignment
    // and the verify cut exactly.
    "cosine_near_dup" -> Entry(
      (s, dir) => SimilarityOps.cosineNearDupPairsBucketed(
        Tables.embeddings(s, dir), 0.3, dim = 64,
        bands = 4, bandBits = 4),
      Some(s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings),
        bk AS (SELECT vec_id, e, ${bucketSql("e", 64, 16)} AS bucket
               FROM v),
        banded AS (SELECT vec_id, e, bucket, CAST(k AS INTEGER) AS band,
                          (bucket >> (CAST(k AS INTEGER) * 4)) & 15
                            AS band_val
                   FROM bk, UNNEST(generate_series(0, 3)) AS t(k)),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e)) *
                    sqrt(list_dot_product(b.e, b.e))) AS c
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_val = b.band_val
           AND a.vec_id < b.vec_id
           -- first-band ownership: skip collisions whose earlier bands
           -- also match (that band already emitted the pair)
           AND (a.band <= 0 OR ((a.bucket >> 0) & 15) <> ((b.bucket >> 0) & 15))
           AND (a.band <= 1 OR ((a.bucket >> 4) & 15) <> ((b.bucket >> 4) & 15))
           AND (a.band <= 2 OR ((a.bucket >> 8) & 15) <> ((b.bucket >> 8) & 15)))
        SELECT id_a, id_b, round(c, 6) AS cos_sim
        FROM pairs WHERE c >= 0.3""")),

    // Same operator under autoBandConfig: the entry derives the banding
    // from the LIVE corpus count + similarity floor at run time
    // (SimilarityOps.autoBandConfig — the MMDS S-curve selection). For
    // every tested corpus size (500..2000 vectors) at floor 0.4 the
    // 30-bit signature budget binds before log2(n) does and the
    // selection lands on 8 bands x 3 bits (pinned by DedupSimSpec), so
    // this static oracle replays the computed config exactly; a
    // different floor or corpus scale regime would move the config and
    // this entry's oracle with it.
    "cosine_near_dup_auto" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val (bands, bandBits) = SimilarityOps.autoBandConfig(
          e.count(), simFloor = 0.4)
        SimilarityOps.cosineNearDupPairsBucketed(e, 0.4, dim = 64,
          bands = bands, bandBits = bandBits)
      },
      Some(s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings),
        bk AS (SELECT vec_id, e, ${bucketSql("e", 64, 24)} AS bucket
               FROM v),
        banded AS (SELECT vec_id, e, bucket, CAST(k AS INTEGER) AS band,
                          (bucket >> (CAST(k AS INTEGER) * 3)) & 7
                            AS band_val
                   FROM bk, UNNEST(generate_series(0, 7)) AS t(k)),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e)) *
                    sqrt(list_dot_product(b.e, b.e))) AS c
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_val = b.band_val
           AND a.vec_id < b.vec_id
           ${(0 until 7).map(k =>
             s"AND (a.band <= $k OR ((a.bucket >> ${k * 3}) & 7) <> " +
               s"((b.bucket >> ${k * 3}) & 7))").mkString("\n           ")})
        SELECT id_a, id_b, round(c, 6) AS cos_sim
        FROM pairs WHERE c >= 0.4""")),

    // Cell-restricted near-dup (SimilarityOps.cosineNearDupPairsIvf):
    // the PRE-CLUSTERING scale path past banded LSH — trained k-means
    // cells (exact quantized argmin, same trajectory as
    // ivf_kmeans_centroids) restrict candidate pairs to the same cell,
    // exact cosine verifies. Oracle replays the 2-round Lloyd training
    // and the within-cell pair join.
    "cosine_near_dup_ivf" -> Entry(
      (s, dir) => SimilarityOps.cosineNearDupPairsIvf(
        Tables.embeddings(s, dir), 0.3, nClusters = 8, iters = 2),
      Some(s"""
        WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                             $qzSql AS qv
                      FROM embeddings),
        c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER)
                        - 1 AS cid, qv AS qc
               FROM (SELECT vec_id, qv FROM corp ORDER BY vec_id LIMIT 8)),
        a1 AS (${kmAssignSql("corp", "c0")}),
        u1 AS (${kmMeanSql("a1")}),
        c1 AS (SELECT c0.cid, COALESCE(l.qc, c0.qc) AS qc
               FROM c0 LEFT JOIN (SELECT cid, list(qc ORDER BY dim) AS qc
                                  FROM u1 GROUP BY cid) l
                 ON c0.cid = l.cid),
        a2 AS (${kmAssignSql("corp", "c1")}),
        u2 AS (${kmMeanSql("a2")}),
        c2 AS (SELECT cid, list(qc ORDER BY dim) AS qc
               FROM u2 GROUP BY cid),
        ac AS (${kmAssignSql("corp", "c2")}),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_dot_product(a.ev, b.ev) /
                   (sqrt(list_dot_product(a.ev, a.ev)) *
                    sqrt(list_dot_product(b.ev, b.ev))) AS c
          FROM ac a JOIN ac b
            ON a.cid = b.cid AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, round(c, 6) AS cos_sim
        FROM pairs WHERE c >= 0.3""")),

    // Semantic decontamination: flag train vectors within cosine floor
    // of ANY eval vector — the paraphrase-leakage check the n-gram and
    // Bloom decontaminators cannot see. Eval side broadcast; one train
    // scan + a map-side-combining max aggregate.
    "semantic_decontaminate" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        SimilarityOps.semanticDecontaminate(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          floor = 0.3)
      },
      Some("""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS tv
                   FROM embeddings WHERE vec_id >= 10),
        ev AS (SELECT CAST(embedding AS DOUBLE[]) AS evv
               FROM embeddings WHERE vec_id < 10),
        m AS (SELECT t.vec_id,
                     max(list_dot_product(tv, evv) /
                         (sqrt(list_dot_product(tv, tv)) *
                          sqrt(list_dot_product(evv, evv)))) AS maxc
              FROM t CROSS JOIN ev GROUP BY 1)
        SELECT vec_id, round(maxc, 6) AS max_eval_cos,
               maxc >= 0.3 AS is_contaminated
        FROM m""")),

    // Two-level twin of cosine_near_dup_ivf: k1·k2 effective cells for
    // O(n·(k1+k2)) assignment (shared trainSubCells/subArgmin machinery
    // with the two-level serving index). Oracle replays the identical
    // two-stage trajectory as semantic_dedup_2level, then the same-cell
    // pair tail.
    //
    // The entry runs the op's REAL scale contract — k1 = k2 =
    // max(3, ceil(sqrt(n/250))), i.e. k1·k2 ∝ n with √-scaling per
    // level, holding cell occupancy (and with it the only quadratic
    // step, the within-cell cosine verify) at ~250 rows as the corpus
    // grows. At the verify/bench scale factors (n <= 2250) the rule
    // lands on k1=k2=3, so the oracle's fixed 3·3 two-stage unroll
    // stays a bit-exact twin; past that the measured ScaleUp runs
    // exercise the growing-k leg the oracle can't unroll (SCALE.md
    // carries the exponent at contract k: 3·3 at sf0.1 → 9·9 at sf1).
    "cosine_near_dup_ivf2" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val k = math.max(3L,
          math.ceil(math.sqrt(e.count() / 250.0)).toLong).toInt
        SimilarityOps.cosineNearDupPairsIvfTwoLevel(
          e, 0.3, k1 = k, k2 = k, iters = 1)
      },
      Some(s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                          $qzSql AS qv
                   FROM embeddings),
        cc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER)
                         - 1 AS cid, qv AS qc
                FROM (SELECT vec_id, qv FROM v ORDER BY vec_id LIMIT 3)),
        ca1 AS (${kmAssignSql("v", "cc0")}),
        cu1 AS (${kmMeanSql("ca1")}),
        cc1 AS (SELECT cid, list(qc ORDER BY dim) AS qc
                FROM cu1 GROUP BY cid),
        a1 AS (SELECT vec_id, ev, qv, cid AS c1
               FROM (${kmAssignSql("v", "cc1")})),
        s0 AS (SELECT c1, CAST(rn - 1 AS INTEGER) AS sub, qv AS sqc
               FROM (SELECT c1, qv, row_number() OVER (PARTITION BY c1
                       ORDER BY vec_id) AS rn
                     FROM a1)
               WHERE rn <= 3),
        sa1 AS (SELECT vec_id, qv, c1, sub FROM (
                  SELECT a.vec_id, a.qv, a.c1, s.sub,
                         row_number() OVER (PARTITION BY a.vec_id
                           ORDER BY ${kmDistSql("a.qv", "s.sqc")}, s.sub)
                           AS rn
                  FROM a1 a JOIN s0 s ON a.c1 = s.c1) WHERE rn = 1),
        su1 AS (SELECT c1, sub, CAST(i AS INTEGER) - 1 AS dim,
                       CAST(round(CAST(sum(qv[CAST(i AS INTEGER)])
                         AS DOUBLE) / count(*)) AS BIGINT) AS qc
                FROM sa1, UNNEST(generate_series(1, len(qv))) AS t(i)
                GROUP BY 1, 2, 3),
        sc1 AS (SELECT c1, sub, list(qc ORDER BY dim) AS sqc
                FROM su1 GROUP BY 1, 2),
        fa AS (SELECT vec_id, ev, c1, sub FROM (
                 SELECT a.vec_id, a.ev, a.c1, s.sub,
                        row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY ${kmDistSql("a.qv", "s.sqc")}, s.sub)
                          AS rn
                 FROM a1 a JOIN sc1 s ON a.c1 = s.c1) WHERE rn = 1),
        asg AS (SELECT vec_id, ev,
                       CAST(c1 * 3 + sub AS INTEGER) AS cell
                FROM fa),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_dot_product(a.ev, b.ev) /
                   (sqrt(list_dot_product(a.ev, a.ev)) *
                    sqrt(list_dot_product(b.ev, b.ev))) AS c
          FROM asg a JOIN asg b
            ON a.cell = b.cell AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, round(c, 6) AS cos_sim
        FROM pairs WHERE c >= 0.3""")),

    // IVF/LSH-bucketed ANN top-k (approximate scale path). The hyperplanes
    // are deterministic, so the oracle embeds them as generated double
    // literals and replays the exact bucket-join + rank.
    "ivf_ann_topk" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        SimilarityOps.ivfTopK(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          k = 5, dim = 64, bits = 4)
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= 10),
        qb AS (SELECT query_id, qv, ${bucketSql("qv", 64, 4)} AS bucket
               FROM q),
        cb AS (SELECT corpus_id, cv, ${bucketSql("cv", 64, 4)} AS bucket
               FROM c),
        scored AS (
          SELECT query_id, corpus_id, $cosSql AS cos_raw
          FROM cb JOIN qb USING (bucket)),
        ranked AS (
          SELECT query_id, corpus_id, cos_raw,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_raw DESC, corpus_id) AS rnk
          FROM scored)
        SELECT query_id, corpus_id, round(cos_raw, 6) AS cos_sim,
               CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 5""")),

    // Unit-norm embedding normalization (cosine becomes plain dot after
    // this), long-form so doubles stay typed end-to-end.
    "vec_l2_normalize" -> Entry(
      (s, dir) => SimilarityOps.l2Normalize(Tables.embeddings(s, dir)),
      Some("""
        WITH n AS (
          SELECT vec_id, embedding,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nm
          FROM embeddings)
        SELECT vec_id, CAST(i AS INTEGER) - 1 AS dim,
               CASE WHEN nm > 0
                 THEN round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                   / nm, 6)
                 ELSE 0.0 END AS unit_v
        FROM n, UNNEST(generate_series(1, len(embedding))) AS t(i)""")),

    // Trained-quantizer ANN: assign corpus + queries to the k-means cell
    // (exact quantized argmin, same trajectory as ivf_kmeans_centroids)
    // and cosine-rank only inside the query's cell.
    "ivf_kmeans_topk" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        SimilarityOps.kmeansIvfTopK(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          k = 5, nClusters = 8, iters = 2)
      },
      Some(s"""
        WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                             $qzSql AS qv
                      FROM embeddings WHERE vec_id >= 10),
        qry AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                       $qzSql AS qv
                FROM embeddings WHERE vec_id < 10),
        c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER)
                        - 1 AS cid, qv AS qc
               FROM (SELECT vec_id, qv FROM corp ORDER BY vec_id LIMIT 8)),
        a1 AS (${kmAssignSql("corp", "c0")}),
        u1 AS (${kmMeanSql("a1")}),
        c1 AS (SELECT c0.cid, COALESCE(l.qc, c0.qc) AS qc
               FROM c0 LEFT JOIN (SELECT cid, list(qc ORDER BY dim) AS qc
                                  FROM u1 GROUP BY cid) l
                 ON c0.cid = l.cid),
        a2 AS (${kmAssignSql("corp", "c1")}),
        u2 AS (${kmMeanSql("a2")}),
        c2 AS (SELECT cid, list(qc ORDER BY dim) AS qc
               FROM u2 GROUP BY cid),
        ac AS (${kmAssignSql("corp", "c2")}),
        aq AS (${kmAssignSql("qry", "c2")}),
        scored AS (
          SELECT aq.vec_id AS query_id, ac.vec_id AS corpus_id,
                 list_dot_product(aq.ev, ac.ev) /
                   (sqrt(list_dot_product(aq.ev, aq.ev)) *
                    sqrt(list_dot_product(ac.ev, ac.ev))) AS cos_raw
          FROM ac JOIN aq ON ac.cid = aq.cid),
        ranked AS (
          SELECT query_id, corpus_id, cos_raw,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_raw DESC, corpus_id) AS rnk
          FROM scored)
        SELECT query_id, corpus_id, round(cos_raw, 6) AS cos_sim,
               CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 5""")),

    // SimHash near-dup pairs via band-of-bits LSH + exact Hamming verify.
    // Arithmetic (simhash >> k) & 65535 equals the unsigned band extract
    // in both engines (the mask discards the sign-extended bits).
    "dedup_simhash_pairs" -> Entry(
      (s, dir) => DedupOps.simhashNearDups(Tables.documents(s, dir),
        maxHamming = 16),
      Some(s"""
        WITH $simhashSigSql,
        banded AS (
          SELECT doc_id, simhash, CAST(b AS INTEGER) AS band,
                 (simhash >> (CAST(b AS INTEGER) * 16)) & 65535 AS band_val
          FROM sig, UNNEST([0, 1, 2, 3]) AS t(b))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(min(bit_count(xor(a.simhash, b.simhash))) AS INTEGER)
                 AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING min(bit_count(xor(a.simhash, b.simhash))) <= 16""")),

    // SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    // inside each cluster drop every vector with a lower-id cluster-mate
    // at cosine >= 0.3. The entry runs the op's REAL scale contract —
    // k = max(8, n/1000), so cluster SIZE (and with it the only
    // quadratic step, the within-cell pair volume) stays bounded as the
    // corpus grows instead of clusters growing linearly. At the
    // verify/bench scale factors (n < 9000) the rule lands on k=8, so
    // the oracle's 8-centroid Lloyd unroll (one exact quantized update —
    // same trajectory the IVF oracles replay) stays a bit-exact twin;
    // past that the measured ScaleUp runs exercise the growing-k leg the
    // oracle can't unroll (SCALE.md carries the exponent at contract k).
    // Keep/drop, lowest dup peer, and the round-6 strongest similarity
    // all hash-match.
    "semantic_dedup" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val k = math.max(8L, e.count() / 1000L).toInt
        SimilarityOps.semanticDedup(e, threshold = 0.3, nClusters = k,
          iters = 1)
      },
      Some(s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                          $qzSql AS qv
                   FROM embeddings),
        cc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER)
                         - 1 AS cid, qv AS qc
                FROM (SELECT vec_id, qv FROM v ORDER BY vec_id LIMIT 8)),
        ca1 AS (${kmAssignSql("v", "cc0")}),
        cu1 AS (${kmMeanSql("ca1")}),
        cc1 AS (SELECT cid, list(qc ORDER BY dim) AS qc
                FROM cu1 GROUP BY cid),
        asg AS (SELECT vec_id, ev, cid AS cell
                FROM (${kmAssignSql("v", "cc1")})),
        dups AS (
          SELECT a.vec_id AS vec_id, min(b.vec_id) AS dup_of,
                 max(list_dot_product(a.ev, b.ev) /
                     (sqrt(list_dot_product(a.ev, a.ev)) *
                      sqrt(list_dot_product(b.ev, b.ev)))) AS maxc
          FROM asg a JOIN asg b
            ON a.cell = b.cell AND b.vec_id < a.vec_id
          WHERE list_dot_product(a.ev, b.ev) /
                (sqrt(list_dot_product(a.ev, a.ev)) *
                 sqrt(list_dot_product(b.ev, b.ev))) >= 0.3
          GROUP BY 1)
        SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
               d.dup_of IS NULL AS is_kept, d.dup_of,
               round(d.maxc, 6) AS dup_cos
        FROM asg a LEFT JOIN dups d USING (vec_id)"""),
      // probe: flat SemDeDup (growing-k contract keeps cells bounded, but
      // per-cell candidate volume still grows with contract k — measured
      // 0.87 second-decade exponent); semantic_dedup_2level is the
      // production posture
      probe = true),

    // SemDeDup with TWO-LEVEL (coarse-then-refine) assignment — the
    // scale form past the flat argmin: k1·k2 effective cells for
    // O(n·(k1+k2)) assignment cost (inverted-multi-index discipline).
    // The oracle replays the FULL two-stage trajectory: coarse
    // lowest-id init -> one exact Lloyd update -> coarse assignment,
    // then per-coarse-cell lowest-id sub-init -> one sub update ->
    // final assignment (ties to lower sub), cell = c1*k2 + sub, and
    // the same within-cell prune.
    //
    // Contract k, like cosine_near_dup_ivf2 above: k1 = k2 =
    // max(3, ceil(sqrt(n/250))) holds cell occupancy ~constant so the
    // within-cell prune volume scales with n, not n². Verify/bench SFs
    // (n <= 2250) land on the oracle's fixed 3·3 unroll; ScaleUp
    // measures the growing-k leg (3·3 at sf0.1 → 9·9 at sf1).
    "semantic_dedup_2level" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val k = math.max(3L,
          math.ceil(math.sqrt(e.count() / 250.0)).toLong).toInt
        SimilarityOps.semanticDedupTwoLevel(
          e, threshold = 0.3, k1 = k, k2 = k, iters = 1)
      },
      Some(s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
                          $qzSql AS qv
                   FROM embeddings),
        cc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER)
                         - 1 AS cid, qv AS qc
                FROM (SELECT vec_id, qv FROM v ORDER BY vec_id LIMIT 3)),
        ca1 AS (${kmAssignSql("v", "cc0")}),
        cu1 AS (${kmMeanSql("ca1")}),
        cc1 AS (SELECT cid, list(qc ORDER BY dim) AS qc
                FROM cu1 GROUP BY cid),
        a1 AS (SELECT vec_id, ev, qv, cid AS c1
               FROM (${kmAssignSql("v", "cc1")})),
        s0 AS (SELECT c1, CAST(rn - 1 AS INTEGER) AS sub, qv AS sqc
               FROM (SELECT c1, qv, row_number() OVER (PARTITION BY c1
                       ORDER BY vec_id) AS rn
                     FROM a1)
               WHERE rn <= 3),
        sa1 AS (SELECT vec_id, qv, c1, sub FROM (
                  SELECT a.vec_id, a.qv, a.c1, s.sub,
                         row_number() OVER (PARTITION BY a.vec_id
                           ORDER BY ${kmDistSql("a.qv", "s.sqc")}, s.sub)
                           AS rn
                  FROM a1 a JOIN s0 s ON a.c1 = s.c1) WHERE rn = 1),
        su1 AS (SELECT c1, sub, CAST(i AS INTEGER) - 1 AS dim,
                       CAST(round(CAST(sum(qv[CAST(i AS INTEGER)])
                         AS DOUBLE) / count(*)) AS BIGINT) AS qc
                FROM sa1, UNNEST(generate_series(1, len(qv))) AS t(i)
                GROUP BY 1, 2, 3),
        sc1 AS (SELECT c1, sub, list(qc ORDER BY dim) AS sqc
                FROM su1 GROUP BY 1, 2),
        fa AS (SELECT vec_id, ev, c1, sub FROM (
                 SELECT a.vec_id, a.ev, a.c1, s.sub,
                        row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY ${kmDistSql("a.qv", "s.sqc")}, s.sub)
                          AS rn
                 FROM a1 a JOIN sc1 s ON a.c1 = s.c1) WHERE rn = 1),
        asg AS (SELECT vec_id, ev,
                       CAST(c1 * 3 + sub AS INTEGER) AS cell
                FROM fa),
        dups AS (
          SELECT a.vec_id AS vec_id, min(b.vec_id) AS dup_of,
                 max(list_dot_product(a.ev, b.ev) /
                     (sqrt(list_dot_product(a.ev, a.ev)) *
                      sqrt(list_dot_product(b.ev, b.ev)))) AS maxc
          FROM asg a JOIN asg b
            ON a.cell = b.cell AND b.vec_id < a.vec_id
          WHERE list_dot_product(a.ev, b.ev) /
                (sqrt(list_dot_product(a.ev, a.ev)) *
                 sqrt(list_dot_product(b.ev, b.ev))) >= 0.3
          GROUP BY 1)
        SELECT a.vec_id, a.cell,
               d.dup_of IS NULL AS is_kept, d.dup_of,
               round(d.maxc, 6) AS dup_cos
        FROM asg a LEFT JOIN dups d USING (vec_id)""")),

    // Self-evaluation: recall@5 of the IVF path against the brute-force
    // ground truth — the measurement a production ANN deployment ships
    // with. One summary row: n_queries, hits, recall.
    "ann_recall" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") < 10)
        val c = e.filter(col("vec_id") >= 10)
        val truth = SimilarityOps.bruteForceTopK(q, c, 5)
          .select(col("query_id"), col("corpus_id"))
        val approx = SimilarityOps.ivfTopK(q, c, 5, dim = 64, bits = 4,
            multiProbe = true)
          .select(col("query_id"), col("corpus_id"))
        truth.join(approx, Seq("query_id", "corpus_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          .select(col("n_truth"), col("hits"),
            (col("hits").cast("double") / col("n_truth")).as("recall"))
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= 10),
        truth AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY $cosSql DESC, corpus_id) AS rnk
            FROM c, q) WHERE rnk <= 5),
        qb AS (SELECT query_id, qv, ${bucketSql("qv", 64, 4)} AS bucket
               FROM q),
        cb AS (SELECT corpus_id, cv, ${bucketSql("cv", 64, 4)} AS bucket
               FROM c),
        probes AS (SELECT query_id, qv,
                          unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                                  xor(bucket, 4), xor(bucket, 8)]) AS bucket
                   FROM qb),
        approx AS (
          SELECT query_id, corpus_id FROM (
            SELECT p.query_id, cb.corpus_id,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY list_dot_product(p.qv, cb.cv) /
                       (sqrt(list_dot_product(p.qv, p.qv)) *
                        sqrt(list_dot_product(cb.cv, cb.cv))) DESC,
                       cb.corpus_id) AS rnk
            FROM probes p JOIN cb ON p.bucket = cb.bucket) WHERE rnk <= 5),
        h AS (SELECT count(*) AS hits
              FROM truth JOIN approx USING (query_id, corpus_id)),
        nt AS (SELECT count(*) AS n_truth FROM truth)
        SELECT n_truth, hits, CAST(hits AS DOUBLE) / n_truth AS recall
        FROM nt, h""")),

    // Recall@5 of the PERSISTED IVF-PQ serving index (writeIvfPqIndex +
    // train-free ivfPqIndexTopK probe) against brute-force cosine truth —
    // the ann_recall twin for the build/serve split, measuring what the
    // quantized on-disk path loses vs exact search. Shares the Scratch
    // artifact with ivfpq_index_topk (identical build parameters), so a
    // full-catalog pass builds the index once. The oracle replays the
    // full IVF-PQ training/ADC trajectory (ivfpqRankedCte) for the approx
    // side and exact cosine for the truth side; recall is a ratio of
    // exact ints.
    "ann_index_recall" -> Entry(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") < 10)
        val c = e.filter(col("vec_id") >= 10)
        val truth = SimilarityOps.bruteForceTopK(q, c, 5)
          .select(col("query_id"), col("corpus_id"))
        val idx = graft.sources.Scratch.materialize("ivfpq_idx", dir) {
          p => SimilarityOps.writeIvfPqIndex(c, p, dim = 64, nCells = 4,
            cellIters = 1, m = 4, codebookK = 8, pqIters = 1)
        }
        val approx = SimilarityOps.ivfPqIndexTopK(s, idx, q, k = 5,
            dim = 64, m = 4)
          .select(col("query_id"), col("corpus_id"))
        truth.join(approx, Seq("query_id", "corpus_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          .select(col("n_truth"), col("hits"),
            (col("hits").cast("double") / col("n_truth")).as("recall"))
      },
      Some(s"""$ivfpqRankedCte,
        tq AS (SELECT vec_id AS query_id,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
        tc AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id >= 10),
        truth AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY $cosSql DESC, corpus_id) AS rnk
            FROM tc, tq) WHERE rnk <= 5),
        approx AS (SELECT query_id, corpus_id FROM ranked WHERE rnk <= 5),
        h AS (SELECT count(*) AS hits
              FROM truth JOIN approx USING (query_id, corpus_id)),
        nt AS (SELECT count(*) AS n_truth FROM truth)
        SELECT n_truth, hits, CAST(hits AS DOUBLE) / n_truth AS recall
        FROM nt, h"""))
  )
}
