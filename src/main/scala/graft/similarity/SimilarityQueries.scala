package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.Recursion

/** Embedding similarity + probabilistic near-dup operators (SURVEY §7.2 M7):
  * brute-force cosine top-k (the exact baseline), random-hyperplane LSH
  * bucketing (the scale path: candidates only meet inside a bucket, so the
  * quadratic pair space never materializes), MinHash-LSH for set similarity,
  * and SimHash fingerprints.
  *
  * All vector math is `zip_with`/`aggregate` higher-order functions over
  * `array<double>` — codegen'd, no UDFs.
  *
  * Hash portability: every pseudo-random hash is derived from `md5` hex,
  * which Spark and DuckDB compute identically (same portability precedent as
  * the reference's digest functions, reference
  * `src/expr/src/scalar/func/binary.rs:363-393`). A 60-bit integer hash is
  * `conv(substr(md5(s),1,15),16,10)` on Spark ≡
  * `CAST('0x' || substr(md5(s),1,15) AS BIGINT)` on DuckDB, so all three LSH
  * pipelines have full DuckDB oracles — no engine-specific hashing anywhere.
  */
object SimilarityQueries {

  // embeddings stay on the plain loader: `e` is referenced many times per
  // ANN query (queries/corpus/rerank sides) and a fan-out shuffle per
  // reference measurably outweighed the parallelized dot work (A/B r19:
  // dedup_embedding_cosine 2.48 → 3.83 s with loadSpread here — reverted)
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  // loadSpread: both consumers (MinHash shingle+md5 pipeline, simhash token
  // md5 + 60 bit sums) multiply per-row CPU work over the text, and at
  // bench SFs the table is one parquet split — a single core would own all
  // of it (guide §2.5); at scale the fan-out is the identity
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "documents")

  /** Portable 60-bit hash of a string expression (Spark side). */
  private def h60(sqlExpr: String): String =
    s"CAST(conv(substr(md5($sqlExpr), 1, 15), 16, 10) AS BIGINT)"

  /** 64 deterministic md5-derived pseudo-hyperplanes (dim 64), broadcast to
    * every executor — shared by `ann_lsh_bucketed` and
    * `dedup_embedding_cosine`. */
  private def hyperplanes(s: SparkSession): DataFrame =
    s.range(64).select(col("id").cast("long").as("j"),
      expr("transform(sequence(0, 63), " +
        s"d -> CAST(${h60("concat('hp', id, ':', d)")} % 1001 AS DOUBLE) / 500.0 - 1.0)").as("u"))

  /** Banded hyperplane-LSH candidate pairs `(id_a, id_b)`, `id_a < id_b`:
    * 64-bit sketch → 8 bands × 8 bits (256-bucket bands keep per-bucket
    * populations bounded as the corpus grows) → pairs meet only inside a
    * bucket, so the quadratic pair space never materializes.
    *
    * (An r19 attempt to make the sketch map-only — 64 literal hyperplane
    * arrays inlined as one giant projection — REGRESSED 1.8×: the ~10k-node
    * expression tree made Catalyst planning, re-paid on every execution,
    * cost more than the one small aggregation exchange it removed. The
    * data-driven broadcast-crossJoin form keeps the plan tree constant-size;
    * only the per-row dot product moved to the fused-codegen
    * [[graft.functions.DotProduct]], which allocates no intermediate
    * array.) */
  private def lshCandidates(s: SparkSession, e: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val bits = e.crossJoin(broadcast(hyperplanes(s)))
      .select(col("vec_id"), col("j"),
        (round(expr("dot_product(v, u)"), 6) >= 0).cast("long").as("bit"))
    val buckets = bits
      .withColumn("band", expr("j div 8"))
      .groupBy(col("vec_id"), col("band"))
      .agg(sum(expr("shiftleft(bit, CAST(j % 8 AS INT))")).as("bucket"))
    val a = buckets.as("a"); val b = buckets.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
  }

  /** The hyper/e/bits/buckets/cand oracle CTE chain mirroring
    * [[lshCandidates]] on DuckDB (md5-portable hashes). */
  private val lshOracleCtes: String =
    """hyper AS (
      |  SELECT j, list(u ORDER BY d) AS u FROM (
      |    SELECT j, d,
      |      (CAST('0x' || substr(md5('hp' || j || ':' || d), 1, 15) AS BIGINT)
      |         % 1001) / 500.0 - 1.0 AS u
      |    FROM range(64) t(j), range(64) s(d))
      |  GROUP BY j),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |bits AS (
      |  SELECT vec_id, j,
      |    CASE WHEN round(list_dot_product(v, u), 6) >= 0 THEN 1 ELSE 0 END AS bit
      |  FROM e, hyper),
      |buckets AS (
      |  SELECT vec_id, j // 8 AS band, sum(bit << (j % 8)) AS bucket
      |  FROM bits GROUP BY vec_id, band),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM buckets a JOIN buckets b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin

  val defs: Seq[Q] = Seq(

    // Brute-force cosine top-k — exact ANN baseline. Rank on the ROUNDED
    // similarity (+ id tiebreak) so ordering is stable across engines.
    Q("ann_cosine_topk",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |pairs AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    round(list_cosine_similarity(qv, c.v), 6) AS cos_sim
        |  FROM q, e c WHERE c.vec_id <> q_id)
        |SELECT q_id, c_id, cos_sim FROM (
        |  SELECT q_id, c_id, cos_sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rn
        |  FROM pairs) WHERE rn <= 5""".stripMargin) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("v").as("qv"))
      val c = e.select(col("vec_id").as("c_id"), col("v").as("cv"))
      val cos = expr("cosine_similarity(qv, cv)")
      val pairs = q.crossJoin(c).filter(col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"), round(cos, 6).as("cos_sim"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id").asc)
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("q_id"), col("c_id"), col("cos_sim"))
    },

    // Random-hyperplane LSH: 64 deterministic md5-derived pseudo-hyperplanes
    // → 64-bit sketch per vector, banded 8×8 (OR-construction) → candidates
    // only within a bucket → exact cosine verification. The scale path for
    // ANN: candidate generation is a hash-bucket shuffle, not a cross join,
    // and 8-bit bands (256 buckets each) keep per-bucket populations — and
    // therefore the quadratic within-bucket pair count — bounded as the
    // corpus grows (4-bit bands' 16 buckets would not). Recall for cos≈0.9
    // pairs ≈ 1-(1-0.86^8)^8 ≈ 0.94. Bit decisions threshold the ROUNDED
    // dot product so both engines agree at FP noise level.
    Q("ann_lsh_bucketed",
      s"""WITH $lshOracleCtes
        |SELECT id_a, id_b, round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
        |FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
        |WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.3""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      // 8 bands × 8 bits: a pair is a candidate if it matches in ANY band
      // (standard LSH OR-construction — tune bits/bands for target recall).
      val cand = lshCandidates(s, e)
      val ea = e.select(col("vec_id").as("id_a"), col("v").as("va"))
      val eb = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
      graft.functions.VectorFunctions.register(s)
      val cos = expr("cosine_similarity(va, vb)")
      cand.join(ea, "id_a").join(eb, "id_b")
        .select(col("id_a"), col("id_b"), round(cos, 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
    },

    // MinHash + banded LSH over 5-word shingles (shingle → two-hash minwise
    // family → 32 permutation minhashes → 8 bands of 4 → bucket join →
    // estimate). Pipeline + oracle CTEs shared via [[MinHashLsh]].
    Q("dedup_minhash_lsh",
      s"""WITH ${MinHashLsh.oracleCtes}
        |SELECT id_a, id_b,
        |  CAST(list_sum(list_transform(range(1, 33),
        |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0
        |    AS est_jaccard
        |FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
        |WHERE CAST(list_sum(list_transform(range(1, 33),
        |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0
        |  >= 0.4""".stripMargin) { (s, dir) =>
      // sig is referenced three times (banded candidates + both join sides);
      // the materialized-once checkpoint keeps the shingle+md5 signature
      // pipeline out of the plan tree per reference — same rationale as the
      // candidate checkpoint in dedup_ngram_jaccard. Lazy (r20 — the no-arg
      // form is EAGER in Spark and ran a job at plan-construction time), so
      // materialization piggybacks on the first real action.
      val sig = MinHashLsh.signatures(docs(s, dir)).localCheckpoint(false)
      val cand = MinHashLsh.candidates(sig)
      val sa = sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val sb = sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
      // fused-codegen band verify (r20): one loop over both signatures —
      // the aggregate(zip_with(...)) form allocated a 32-element IF-array
      // and walked both inputs twice per candidate pair (value-identical,
      // pinned in OptimizedExprSpec)
      graft.functions.VectorFunctions.register(s)
      cand.join(sa, "id_a").join(sb, "id_b")
        .select(col("id_a"), col("id_b"),
          (expr("array_match_count(sig_a, sig_b)")
            .cast("double") / 32.0).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.4)
    },

    // SimHash: 60-bit token-hash fingerprint (md5-derived); near-dup
    // candidates block on four 15-bit sub-bands, then Hamming-filter via
    // bit_count(xor).
    Q("dedup_simhash",
      """WITH toks AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        |  WHERE len(tok) > 0),
        |hc AS (SELECT doc_id, h, count(*) AS cnt FROM toks GROUP BY doc_id, h),
        |bits AS (
        |  SELECT doc_id, b AS bit_idx,
        |    CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END AS contrib
        |  FROM hc, range(60) t(b)),
        |fp AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |        << bit_idx) AS simhash
        |  FROM (SELECT doc_id, bit_idx, sum(contrib) AS s
        |        FROM bits GROUP BY doc_id, bit_idx)
        |  GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, simhash, b AS band, (simhash >> (b * 15)) & 32767 AS bh
        |  FROM fp, range(4) t(b))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12""".stripMargin) { (s, dir) =>
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .withColumn("h", expr(h60("tok")))
      // ONE aggregation computes all 60 bit-position sums as parallel
      // aggregate columns (sum of ±1 per token occurrence ≡ the former
      // ±cnt-weighted sums over (doc, hash) groups): the previous
      // formulation exploded every (doc_id, h) row 60-way — ~60× the token
      // count flowing into TWO extra shuffles (groupBy(doc_id, bit_idx),
      // then groupBy(doc_id)). Now the map side partially aggregates
      // straight to one 60-column row per doc_id and a single exchange
      // carries |docs| rows. Plan: 4 Exchanges → 2 before the band join.
      val bitSums = (0 until 60).map { b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"s$b")
      }
      val fp = toks.groupBy(col("doc_id"))
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"),
          (0 until 60).map(b =>
            when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
      val banded = fp.select(col("doc_id"), col("simhash"),
          explode(expr("transform(sequence(0, 3), " +
            "b -> struct(b AS band, shiftright(simhash, b * 15) & 32767 AS bh))")).as("bb"))
        .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      val a = banded.as("a"); val b = banded.as("b")
      a.join(b,
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
        // hamming filter BEFORE the cross-band distinct: strictly fewer rows
        // into the distinct exchange; hamming is a function of the pair, so
        // filter and distinct commute.
        .filter(col("hamming") <= 12)
        .distinct()
    },

    // IVF (inverted-file) ANN — the classic coarse-quantizer scale path
    // next to hyperplane LSH: deterministic seed centroids (16 sampled data
    // vectors = k-means with 0 Lloyd rounds; refinement is the same
    // assignment job iterated), every vector assigned to its nearest
    // centroid (argmax cosine via `max_by` — partial-aggregated, no window
    // shuffle over the corpus), queries probe their nprobe=4 nearest lists,
    // exact cosine only within probed lists, top-5. Candidate volume is
    // nprobe/K of the corpus instead of all of it; centroids broadcast.
    Q("ann_ivf_probed",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 6 = 3 AND vec_id < 96),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
        |    FROM e, cents c) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |probe AS (
        |  SELECT q_id, cid FROM (
        |    SELECT q.q_id, c.cid,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cid) AS rn
        |    FROM q, cents c) WHERE rn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.q_id, a.vec_id AS c_id
        |  FROM probe p JOIN assign a ON a.cid = p.cid
        |  WHERE a.vec_id <> p.q_id)
        |SELECT q_id, c_id, cos_sim FROM (
        |  SELECT cand.q_id, cand.c_id,
        |    round(list_cosine_similarity(qe.v, ce.v), 6) AS cos_sim,
        |    row_number() OVER (PARTITION BY cand.q_id
        |      ORDER BY round(list_cosine_similarity(qe.v, ce.v), 6) DESC, cand.c_id) AS rn
        |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id JOIN e ce ON ce.vec_id = cand.c_id)
        |WHERE rn <= 5""".stripMargin) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") % 6 === 3 && col("vec_id") < 96)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      // assignment: argmax cosine with min-cid tiebreak, as ONE partial
      // aggregation (max_by over a (cos, -cid) struct) — at 100 TB this is
      // a map-side combine, not a corpus-wide window sort.
      val assign = e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          round(expr("cosine_similarity(v, cv)"), 6).as("cs"), col("cid"))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cid, struct(cs, -cid))").as("cid"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val probeW = Window.partitionBy(col("q_id"))
        .orderBy(col("cs").desc, col("cid").asc)
      val probe = q.crossJoin(broadcast(cents))
        .select(col("q_id"), col("cid"),
          round(expr("cosine_similarity(qv, cv)"), 6).as("cs"))
        .withColumn("rn", row_number().over(probeW)).filter(col("rn") <= 4)
        .select(col("q_id"), col("cid"))
      val cand = probe.join(assign, "cid")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("c_id"))
        .distinct()
      val scored = cand
        .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), "q_id")
        .join(e.select(col("vec_id").as("c_id"), col("v").as("cv")), "c_id")
        .select(col("q_id"), col("c_id"),
          round(expr("cosine_similarity(qv, cv)"), 6).as("cos_sim"))
      val topW = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("c_id").asc)
      scored.withColumn("rn", row_number().over(topW)).filter(col("rn") <= 5)
        .select(col("q_id"), col("c_id"), col("cos_sim"))
    },

    // Embedding-cosine near-dup: LSH candidates → cosine ≥ 0.35 pairs →
    // CONNECTED COMPONENTS via the engine's own LetRec fixpoint operator
    // (label = component minimum), i.e. the dedup pipeline composes with
    // `Recursion.fixpoint` exactly as a reference user would write
    // `WITH MUTUALLY RECURSIVE` over a near-dup edge view. Work is
    // proportional to the candidate graph (near-dup groups are small), the
    // corpus never materializes a quadratic pair space, and the oracle
    // mirrors the fixpoint with a recursive CTE.
    Q("dedup_embedding_cosine",
      s"""WITH $lshOracleCtes,
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
        |  WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35),
        |sym AS (SELECT id_a AS vid, id_b AS nb FROM pairs
        |        UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  WITH RECURSIVE r(vid, l) AS (
        |    SELECT vec_id, vec_id FROM e
        |    UNION
        |    SELECT s.vid, r.l FROM sym s JOIN r ON r.vid = s.nb)
        |  SELECT * FROM r)
        |SELECT vid AS vec_id, CAST(min(l) AS BIGINT) AS canon_id,
        |  CAST(count(*) - 1 AS INT) AS n_linked
        |FROM reach GROUP BY vid""".stripMargin) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val e = emb(s, dir)
      val cand = lshCandidates(s, e)
      val pairs = cand
        .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
        .filter(round(expr("cosine_similarity(va, vb)"), 6) >= 0.35)
        .select(col("id_a"), col("id_b"))
      val sym = pairs.select(col("id_a").as("evid"), col("id_b").as("nb"))
        .unionByName(pairs.select(col("id_b").as("evid"), col("id_a").as("nb")))
        // the edge set is static across fixpoint rounds — materialize once,
        // lazily (the no-arg form is eager: one extra job at plan build)
        .localCheckpoint(false)
      val base = e.select(col("vec_id").as("vid"), col("vec_id").as("l"))
      // linear step (static edges ⋈ frontier), as fixpoint requires
      val reach = Recursion.fixpoint(base, frontier =>
        sym.join(frontier, col("nb") === col("vid"))
          .select(col("evid").as("vid"), col("l")))
      reach.groupBy(col("vid"))
        .agg(min(col("l")).as("canon_id"),
          (count(lit(1)) - 1).cast("int").as("n_linked"))
        .select(col("vid").as("vec_id"), col("canon_id"), col("n_linked"))
    },

    // Scalar-quantized (SQ8) ANN with exact rerank — the bandwidth
    // compression path (FAISS SQ8): one tiny per-dimension min/max
    // aggregation (64 keys; broadcast back), int8 codes computed map-only,
    // a 4x-cheaper integer coarse scan keeps 4k candidates per query, and
    // only those k*4 pairs touch the full floats for the exact rerank. At
    // 100 TB the coarse scan reads a quarter of the bytes and composes
    // with the IVF/LSH candidate paths (quantized probes), so the exact
    // cartesian never materializes past the candidate set. Integer coarse
    // scores order identically in both engines; output similarity rounds
    // to 6 like the other ANN paths.
    Q("ann_sq8_rerank",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |stats AS (
        |  SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM (
        |    SELECT pos, min(v[pos]) AS mn, max(v[pos]) AS mx
        |    FROM e, range(1, 65) t(pos) GROUP BY pos)),
        |q8 AS (
        |  SELECT vec_id, list_transform(range(1, 65), i ->
        |    CASE WHEN mx[i] = mn[i] THEN 0
        |         ELSE CAST(floor((v[i] - mn[i]) / (mx[i] - mn[i]) * 255) AS INT)
        |    END) AS qv
        |  FROM e, stats),
        |coarse AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
        |    CAST(list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[]) AS BIGINT) AS score
        |  FROM q8 a, q8 b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |cand AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rn
        |    FROM coarse) WHERE rn <= 20)
        |SELECT q_id, c_id, cos_sim FROM (
        |  SELECT cand.q_id, cand.c_id,
        |    round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim,
        |    row_number() OVER (PARTITION BY cand.q_id
        |      ORDER BY round(list_cosine_similarity(ea.v, eb.v), 6) DESC, cand.c_id) AS rn
        |  FROM cand JOIN e ea ON ea.vec_id = cand.q_id
        |            JOIN e eb ON eb.vec_id = cand.c_id)
        |WHERE rn <= 5""".stripMargin) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val e = emb(s, dir)
      // per-dimension min/max: 64-key aggregation, then one broadcast row
      val dims = s.range(1, 65).select(col("id").cast("int").as("pos"))
      val stats = e.crossJoin(dims)
        .select(col("pos"), expr("element_at(v, pos)").as("x"))
        .groupBy("pos").agg(min("x").as("mn_d"), max("x").as("mx_d"))
        .agg(
          expr("transform(array_sort(collect_list(struct(pos, mn_d))), t -> t.mn_d)").as("mn"),
          expr("transform(array_sort(collect_list(struct(pos, mx_d))), t -> t.mx_d)").as("mx"))
      val q8 = e.crossJoin(broadcast(stats)).select(col("vec_id"), expr(
        "transform(sequence(1, 64), i -> " +
          "CASE WHEN element_at(mx, i) = element_at(mn, i) THEN 0 " +
          "ELSE CAST(floor((element_at(v, i) - element_at(mn, i)) / " +
          "(element_at(mx, i) - element_at(mn, i)) * 255) AS INT) END)").as("qv"))
      val qs = q8.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qv").as("qa"))
      val cs = q8.select(col("vec_id").as("c_id"), col("qv").as("qb"))
      val coarse = qs.crossJoin(cs).filter(col("c_id") =!= col("q_id"))
        // fused-codegen int8 dot product (r20): no 64-element product array
        // per candidate pair (value-identical incl. int multiply semantics,
        // pinned in OptimizedExprSpec)
        .select(col("q_id"), col("c_id"),
          expr("int_dot_product(qa, qb)").as("score"))
      val wCoarse = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("c_id").asc)
      val cand = coarse.withColumn("rn", row_number().over(wCoarse))
        .filter(col("rn") <= 20).select(col("q_id"), col("c_id"))
      val ea = e.select(col("vec_id").as("q_id"), col("v").as("va"))
      val eb = e.select(col("vec_id").as("c_id"), col("v").as("vb"))
      val reranked = cand.join(ea, "q_id").join(eb, "c_id")
        .select(col("q_id"), col("c_id"),
          round(expr("cosine_similarity(va, vb)"), 6).as("cos_sim"))
      val wFine = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id").asc)
      reranked.withColumn("rn", row_number().over(wFine)).filter(col("rn") <= 5)
        .select(col("q_id"), col("c_id"), col("cos_sim"))
    },

    // IVF + SQ8 composed (the real FAISS IVF-SQ shape, and the r10 verdict's
    // asked-for composition): centroid probing PRUNES the candidate set to
    // the probed partitions, and the scan over those partitions runs on the
    // int8-quantized vectors (4× less bandwidth), with an exact-cosine
    // rerank on the survivors. At 100 TB: assignment is a map-side
    // broadcast-argmax, the coarse scan touches nprobe/nlist of the corpus
    // in compressed form, and exact vectors are read only for top-20 —
    // partition pruning AND compression in one plan.
    Q("ann_ivf_sq8",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 6 = 3 AND vec_id < 96),
        |stats AS (
        |  SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM (
        |    SELECT pos, min(v[pos]) AS mn, max(v[pos]) AS mx
        |    FROM e, range(1, 65) t(pos) GROUP BY pos)),
        |q8 AS (
        |  SELECT vec_id, list_transform(range(1, 65), i ->
        |    CASE WHEN mx[i] = mn[i] THEN 0
        |         ELSE CAST(floor((v[i] - mn[i]) / (mx[i] - mn[i]) * 255) AS INT)
        |    END) AS qv
        |  FROM e, stats),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
        |    FROM e, cents c) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |probe AS (
        |  SELECT q_id, cid FROM (
        |    SELECT q.q_id, c.cid,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cid) AS rn
        |    FROM q, cents c) WHERE rn <= 4),
        |coarse AS (
        |  SELECT p.q_id, a.vec_id AS c_id,
        |    CAST(list_dot_product(qa.qv::DOUBLE[], qb.qv::DOUBLE[]) AS BIGINT) AS score
        |  FROM probe p
        |  JOIN assign a ON a.cid = p.cid
        |  JOIN q8 qa ON qa.vec_id = p.q_id
        |  JOIN q8 qb ON qb.vec_id = a.vec_id
        |  WHERE a.vec_id <> p.q_id),
        |cand AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rn
        |    FROM coarse) WHERE rn <= 20)
        |SELECT q_id, c_id, cos_sim FROM (
        |  SELECT cand.q_id, cand.c_id,
        |    round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim,
        |    row_number() OVER (PARTITION BY cand.q_id
        |      ORDER BY round(list_cosine_similarity(ea.v, eb.v), 6) DESC, cand.c_id) AS rn
        |  FROM cand JOIN e ea ON ea.vec_id = cand.q_id
        |            JOIN e eb ON eb.vec_id = cand.c_id)
        |WHERE rn <= 5""".stripMargin) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") % 6 === 3 && col("vec_id") < 96)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      // SQ8 codebook: per-dimension min/max — 64-key agg into one broadcast row
      val dims = s.range(1, 65).select(col("id").cast("int").as("pos"))
      val stats = e.crossJoin(dims)
        .select(col("pos"), expr("element_at(v, pos)").as("x"))
        .groupBy("pos").agg(min("x").as("mn_d"), max("x").as("mx_d"))
        .agg(
          expr("transform(array_sort(collect_list(struct(pos, mn_d))), t -> t.mn_d)").as("mn"),
          expr("transform(array_sort(collect_list(struct(pos, mx_d))), t -> t.mx_d)").as("mx"))
      val q8 = e.crossJoin(broadcast(stats)).select(col("vec_id"), expr(
        "transform(sequence(1, 64), i -> " +
          "CASE WHEN element_at(mx, i) = element_at(mn, i) THEN 0 " +
          "ELSE CAST(floor((element_at(v, i) - element_at(mn, i)) / " +
          "(element_at(mx, i) - element_at(mn, i)) * 255) AS INT) END)").as("qv"))
      // IVF: assignment (broadcast argmax, map-side combine) + probing
      val assign = e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          round(expr("cosine_similarity(v, cv)"), 6).as("cs"), col("cid"))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cid, struct(cs, -cid))").as("cid"))
      val probeW = Window.partitionBy(col("q_id"))
        .orderBy(col("cs").desc, col("cid").asc)
      val probe = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qvv"))
        .crossJoin(broadcast(cents))
        .select(col("q_id"), col("cid"),
          round(expr("cosine_similarity(qvv, cv)"), 6).as("cs"))
        .withColumn("rn", row_number().over(probeW)).filter(col("rn") <= 4)
        .select(col("q_id"), col("cid"))
      // coarse scan of the PROBED partitions only, in int8
      val coarse = probe.join(assign, "cid")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("c_id"))
        .join(q8.select(col("vec_id").as("q_id"), col("qv").as("qa")), "q_id")
        .join(q8.select(col("vec_id").as("c_id"), col("qv").as("qb")), "c_id")
        // fused-codegen int8 dot product (r20): no 64-element product array
        // per candidate pair (value-identical incl. int multiply semantics,
        // pinned in OptimizedExprSpec)
        .select(col("q_id"), col("c_id"),
          expr("int_dot_product(qa, qb)").as("score"))
      val wCoarse = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("c_id").asc)
      val cand = coarse.withColumn("rn", row_number().over(wCoarse))
        .filter(col("rn") <= 20).select(col("q_id"), col("c_id"))
      // exact rerank on the survivors only
      val ea = e.select(col("vec_id").as("q_id"), col("v").as("va"))
      val eb = e.select(col("vec_id").as("c_id"), col("v").as("vb"))
      val reranked = cand.join(ea, "q_id").join(eb, "c_id")
        .select(col("q_id"), col("c_id"),
          round(expr("cosine_similarity(va, vb)"), 6).as("cos_sim"))
      val wFine = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id").asc)
      reranked.withColumn("rn", row_number().over(wFine)).filter(col("rn") <= 5)
        .select(col("q_id"), col("c_id"), col("cos_sim"))
    }
  )
}
