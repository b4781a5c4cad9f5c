package graft.extensions

import graft.{GraftQuery, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (vec_id, embedding: array<float>, label).
  *
  * Determinism contract: float dot products accumulate differently across
  * engines, so similarity is computed on SCALED-INTEGER vectors —
  * round(x * 1000) as BIGINT per component. Integer sums are associative
  * (any accumulation order gives the same value); the single final
  * divide + sqrt are correctly-rounded IEEE doubles, so both engines emit
  * bit-identical cosines. Rounded to 4 decimals on output.
  *
  * Two operators:
  *  - brute-force top-k: the exact baseline. The (tiny) query set is
  *    broadcast against the corpus scan — at 100 TB the corpus is never
  *    shuffled, and per-partition top-k folds into the final window.
  *  - IVF top-k over TRAINED centroids: k-means in exact integer
  *    arithmetic (see [[centroids]]) partitions the corpus into
  *    K ≈ ⌈√n⌉ lists (derived from the corpus, see [[ivfParams]]);
  *    queries probe their ⌈√K⌉ nearest centroids. Candidate generation
  *    is a centroid-id equi-join, so the per-query scanned fraction is
  *    ~1/√K — shrinking as the corpus grows — and the join shape
  *    survives 100 TB. Recall is approximate by design and MEASURED by
  *    `sim_ivf_recall`, not asserted.
  *
  * Why the training replays in the oracle: every k-means step is exact —
  * distances are BIGINT (||v||² + ||c||² - 2·v·c), the argmin tiebreak is
  * (dist, cid) lexicographic, and the mean is floor(sum/count) where the
  * sums stay far below 2^53 — so DuckDB re-derives bit-identical
  * centroids from the same parquet via the same CTE chain. No persisted
  * centroid side-channel, works at any scale factor.
  */
object Similarity extends QueryModule {

  private val Scale = 1000
  private[extensions] val TopK = 5
  private[extensions] val NQueryVecs = 10 // vec_id < 10 are the query set

  // ---- IVF quantizer capacity, DERIVED from the corpus: K ≈ ⌈√n⌉
  // inverted lists (the standard IVF sizing — per-list size and list
  // count grow together as √n) and a probe width of ⌈√K⌉, so the scanned
  // fraction per query is ~√K/K = 1/√K, SHRINKING as the corpus grows.
  // Both derivations are one SQL-replayable count, so the DuckDB oracle
  // computes the identical (K, nprobe) and retrains bit-identically at
  // any scale factor. Bounds are operational guards for tiny/huge
  // fixtures, not semantics.
  private val KMin = 4
  private val KMax = 64
  private val NProbeMin = 3
  private val KmIters = 3

  private val paramCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Int, Int)]

  /** (K, nprobe) for this corpus — one count job, cached per (session, dir). */
  private[extensions] def ivfParams(s: SparkSession, d: String): (Int, Int) =
    paramCache.getOrElseUpdate((graft.SessionKeys(s), d), {
      val n = scaledVecCached(s, d).count()
      val k = math.max(KMin, math.min(KMax, math.ceil(math.sqrt(n.toDouble)).toInt))
      val np = math.max(NProbeMin, math.min(k, math.ceil(math.sqrt(k.toDouble)).toInt))
      (k, np)
    })

  /** SQL mirror of [[ivfParams]]: CTEs `kparam(k, np)` over the `v` CTE. */
  private def kparamSqlCtes: String =
    s"""kparam0 AS (
       |  SELECT GREATEST($KMin, LEAST($KMax,
       |    CAST(ceil(sqrt(count(*))) AS BIGINT))) AS k FROM v),
       |kparam AS (
       |  SELECT k, GREATEST($NProbeMin, LEAST(k,
       |    CAST(ceil(sqrt(k)) AS BIGINT))) AS np FROM kparam0)""".stripMargin
  // deterministic ~50% training sample: (vec_id * Knuth-multiplier) mod 97
  private[extensions] val SampleMult = 2654435761L
  private[extensions] val SampleMod = 97
  private[extensions] val SampleKeep = 49

  /** Scaled-integer vectors with their squared norms. */
  def scaledVec(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("label"),
      transform(col("embedding"), x => round(x.cast("double") * Scale).cast("long")).as("v"))
      .withColumn("nrm", graft.functions.ScaledDotProduct(col("v"), col("v")))

  /** One persisted copy per (session, sfDir): every similarity/dedup
    * consumer shares this projection. */
  private val vecCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  def scaledVecCached(s: SparkSession, d: String): DataFrame =
    graft.CacheFill(vecCache, (graft.SessionKeys(s), d))(
      scaledVec(s, d).persist())

  /** Release every persisted frame / trained model this module holds (see
    * [[Dedup.invalidateCaches]] for the contract). */
  def invalidateCaches(): Unit = {
    graft.CacheFill.invalidate(vecCache)(_.unpersist())
    graft.CacheFill.invalidate(centroidCache)(_ => ())
    graft.CacheFill.invalidate(paramCache)(_ => ())
  }

  val scaledVecSql: String =
    s"""SELECT vec_id, label,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS v,
       |  list_sum(list_transform(list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * $Scale) AS BIGINT)), x -> x*x)) AS nrm
       |FROM embeddings""".stripMargin

  /** Exact cosine between two scaled vectors, rounded to 4 decimals.
    * The dot product is a native codegen'd expression — the interpreted
    * `aggregate(zip_with(...))` equivalent spent the whole bucketed-join
    * runtime in per-element lambda frames
    * (see [[graft.functions.ScaledDotProduct]]). */
  def cosine(va: Column, nrmA: Column, vb: Column, nrmB: Column): Column =
    round(
      graft.functions.ScaledDotProduct(va, vb) /
        sqrt(nrmA.cast("double") * nrmB.cast("double")), 4)

  /** DuckDB equivalent of [[cosine]] over aliases `a`/`b` with columns v/nrm. */
  def cosineSql(a: String, b: String): String =
    s"""round(list_sum(list_transform(range(1, len($a.v)+1), i -> $a.v[i] * $b.v[i]))
       |  / sqrt(CAST($a.nrm AS DOUBLE) * $b.nrm), 4)""".stripMargin

  // ------------------------------------------------------ k-means training

  private[extensions] final case class Centroid(cid: Int, c: Seq[Long], cnrm: Long)

  /** Trained centroids per (session, dir). The training set is a
    * deterministic hash-sample; init and each iteration are ONE
    * distributed treeAggregate over the sample RDD (assignment is the
    * same exact (dist, cid)-argmin as the kernel, in plain JVM loops),
    * and only the K x dim centroid table ever reaches the driver — the
    * same metadata-sized collect a broadcast would do. RDD here is
    * deliberate: the DataFrame formulation re-analyzed and re-janino-
    * compiled a K × dim literal expression tree EVERY iteration, ~3 s of
    * fixed driver cost this path pays exactly never. At 100 TB: the
    * sample bound caps training cost; assignment stays kernel-only. */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Seq[Centroid]]

  private[extensions] def centroids(s: SparkSession, d: String): Seq[Centroid] =
    graft.CacheFill(centroidCache, (graft.SessionKeys(s), d)) {
      val nCent = ivfParams(s, d)._1
      val sampleRdd = scaledVecCached(s, d)
        .filter((col("vec_id") * SampleMult) % SampleMod < SampleKeep)
        .select(col("vec_id"), col("v"), col("nrm"))
        .rdd.map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
        .persist()
      // init: per residue class vec_id % K, the lowest-id sample vector
      var cents: Seq[Centroid] = sampleRdd
        .map { case (id, v, nrm) => ((id % nCent).toInt, (id, v, nrm)) }
        .reduceByKey((a, b) => if (a._1 <= b._1) a else b)
        .collect()
        .map { case (cid, (_, v, nrm)) => Centroid(cid, v.toSeq, nrm) }
        .sortBy(_.cid).toSeq
      val dim = cents.head.c.length
      for (_ <- 1 to KmIters) {
        // flat primitive copies for the executor-side argmin closure
        val k = cents.size
        val cVecs = cents.map(_.c.toArray).toArray
        val cNrm = cents.map(_.cnrm).toArray
        val cCid = cents.map(_.cid).toArray
        // acc layout: per centroid index, [count, sum_1..sum_dim]
        val width = dim + 1
        val agg = sampleRdd.treeAggregate(new Array[Long](k * width))(
          seqOp = (acc, row) => {
            val v = row._2
            // argmin over (dist, cid): dist = nrm + cnrm - 2·dot with nrm
            // constant per row, so cnrm - 2·dot is the identical order;
            // entries ascend by cid and strict < keeps the lowest cid —
            // exactly the kernel's (and the oracle's) tiebreak
            var best = Long.MaxValue
            var bi = -1
            var i = 0
            while (i < k) {
              val c = cVecs(i)
              var dot = 0L
              var j = 0
              while (j < dim) { dot += v(j) * c(j); j += 1 }
              val score = cNrm(i) - 2L * dot
              if (score < best) { best = score; bi = i }
              i += 1
            }
            acc(bi * width) += 1L
            var j = 0
            while (j < dim) { acc(bi * width + 1 + j) += v(j); j += 1 }
            acc
          },
          combOp = (a, b) => {
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          })
        // exact: |component sums| < 2^53 by construction, so the double
        // division + floor is the bit-identical value DuckDB computes.
        // A centroid that lost every point drops out, matching the SQL
        // GROUP BY (which only emits observed cids).
        cents = (0 until k).flatMap { i =>
          val cnt = agg(i * width)
          if (cnt == 0) None
          else {
            val c = (1 to dim).map(j => math.floor(agg(i * width + j).toDouble / cnt).toLong)
            Some(Centroid(cCid(i), c, c.map(x => x * x).sum))
          }
        }.sortBy(_.cid)
      }
      sampleRdd.unpersist(blocking = false)
      cents
    }

  /** Trained centroids as a flat-array coarse-quantizer codebook: the
    * m = 1, subDim = dim special case of [[graft.functions.PqCodebookData]],
    * so IVF assignment/probing share the PQ kernels (single virtual call
    * inside whole-stage codegen instead of a K × dim literal tree). */
  private def ivfCb(cents: Seq[Centroid]): graft.functions.PqCodebookData = {
    val sorted = cents.sortBy(_.cid).toArray
    val dim = sorted.head.c.length
    new graft.functions.PqCodebookData(
      dim, Array(0, sorted.length), sorted.map(_.cid),
      sorted.flatMap(_.c), sorted.map(_.cnrm))
  }

  /** Nearest centroid id — codegen'd kernel argmin, (dist, cid) order. */
  private def nearestCid(cents: Seq[Centroid]): Column =
    graft.functions.PqKernels.nearestCid(lit(0), col("v"), ivfCb(cents))

  /** The `np` nearest centroid ids, (dist, cid) ascending. */
  private def probeCids(cents: Seq[Centroid], np: Int): Column =
    graft.functions.PqKernels.probeCids(col("v"), ivfCb(cents), np)

  // ------------------------------------------------- k-means training (SQL)

  /** DuckDB replay of [[centroids]]: appended after a `v AS (...)` CTE.
    * Emits CTEs sample, c0..c{KmIters}; the final one is aliased
    * `centroids(cid, c, cnrm)`. */
  private[extensions] def centroidsSqlCtes: String = {
    val distSql =
      "s.nrm + c.cnrm - 2 * list_sum(list_transform(range(1, len(s.v)+1), k -> s.v[k] * c.c[k]))"
    val init =
      s"""$kparamSqlCtes,
         |sample AS (
         |  SELECT vec_id, v, nrm FROM v
         |  WHERE (vec_id * $SampleMult) % $SampleMod < $SampleKeep),
         |c0 AS (
         |  SELECT CAST(vec_id % k AS INT) AS cid, v AS c, CAST(nrm AS BIGINT) AS cnrm
         |  FROM (SELECT s.*, kp.k, row_number() OVER (
         |          PARTITION BY s.vec_id % kp.k ORDER BY s.vec_id) AS rn
         |        FROM sample s CROSS JOIN kparam kp)
         |  WHERE rn = 1)""".stripMargin
    val iters = (1 to KmIters).map { i =>
      s"""a$i AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT s.vec_id, s.v, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY $distSql, c.cid) AS rn
         |    FROM sample s CROSS JOIN c${i - 1} c)
         |  WHERE rn = 1),
         |u$i AS (
         |  SELECT cid, idx, CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS comp
         |  FROM (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS idx FROM a$i)
         |  GROUP BY cid, idx),
         |c$i AS (
         |  SELECT cid, c, CAST(list_sum(list_transform(c, x -> x*x)) AS BIGINT) AS cnrm
         |  FROM (SELECT cid, list(comp ORDER BY idx) AS c FROM u$i GROUP BY cid))""".stripMargin
    }
    (Seq(init) ++ iters ++
      Seq(s"centroids AS (SELECT cid, c, cnrm FROM c$KmIters)")).mkString(",\n")
  }

  /** Ranked vector→centroid CTE: every row of `v` with its centroids
    * ordered by (dist, cid); filter rn = 1 for assignment,
    * rn <= (SELECT np FROM kparam) for probing. */
  private[extensions] def rankedSql: String =
    s"""ranked AS (
       |  SELECT x.vec_id, x.label, x.v, x.nrm, c.cid,
       |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |      x.nrm + c.cnrm - 2 * list_sum(list_transform(range(1, len(x.v)+1), k -> x.v[k] * c.c[k])),
       |      c.cid) AS rn
       |  FROM v x CROSS JOIN centroids c)""".stripMargin

  // ------------------------------------------------------------ brute force

  private[extensions] def knnBrute(s: SparkSession, d: String): DataFrame = {
    val v = scaledVecCached(s, d)
    val queries = v.filter(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = broadcast(queries)
      .join(v, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        cosine(col("qv"), col("qnrm"), col("v"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk").cast("bigint").as("rk"),
        col("neighbor_id"), col("label"), col("cos"))
      .orderBy(col("query_id"), col("rk"))
  }

  private[extensions] val knnBruteSql: String =
    s"""WITH v AS ($scaledVecSql),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM v WHERE vec_id < $NQueryVecs),
       |scored AS (
       |  SELECT q.query_id, v.vec_id AS neighbor_id, v.label,
       |    round(list_sum(list_transform(range(1, len(q.qv)+1), i -> q.qv[i] * v.v[i]))
       |      / sqrt(CAST(q.qnrm AS DOUBLE) * v.nrm), 4) AS cos
       |  FROM q JOIN v ON q.query_id <> v.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
       |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, label, cos
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  // ----------------------------------------------------------- IVF top-k

  /** Corpus with its trained-centroid assignment (pure expression over
    * the cached vectors — no join, no extra shuffle). */
  private[extensions] def assigned(s: SparkSession, d: String): DataFrame =
    scaledVecCached(s, d).withColumn("cid", nearestCid(centroids(s, d)))

  /** Dedup-side probe width. Pair generation expands BOTH sides of the
    * self-join, so candidate volume scales as np²/K of n² — a small
    * CONSTANT keeps that quadratic term bounded while the growing list
    * count K already shrinks the within-list pair counts. The knn path
    * expands only the (tiny) query side, cost np/K per query, so its np
    * is the derived ⌈√K⌉ instead. */
  private[extensions] val PairProbe = 3

  /** Each vector multi-assigned to its `np` nearest centroids (probe
    * expansion; default ⌈√K⌉ for query-side knn probing — pass
    * [[PairProbe]] for both-sides dedup self-joins). */
  private[extensions] def multiAssigned(s: SparkSession, d: String): DataFrame =
    multiAssigned(s, d, ivfParams(s, d)._2)

  private[extensions] def multiAssigned(s: SparkSession, d: String, np: Int): DataFrame =
    scaledVecCached(s, d)
      .withColumn("cid", explode(probeCids(centroids(s, d), np)))

  /** Query-side probe frame: each query expanded to its np nearest
    * centroid ids. */
  private def queryProbes(s: SparkSession, d: String): DataFrame =
    multiAssigned(s, d).filter(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("cid"),
        col("v").as("qv"), col("nrm").as("qnrm"))

  /** The IVF probe-join + exact rescoring + top-k rank, shared by the
    * session-cached ([[knnIvf]]) and lake-served ([[lakeKnn]]) paths —
    * candidates come from a centroid-id equi-join, so each query scans
    * ~⌈√K⌉ of the K inverted lists, never the whole corpus. */
  private def scoreTopK(probes: DataFrame, corpus: DataFrame,
                        corpusVec: Column): DataFrame = {
    val scored = broadcast(probes)
      .join(corpus, Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("qnrm"), corpusVec, col("nrm")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk").cast("bigint").as("rk"),
        col("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("rk"))
  }

  private def knnIvf(s: SparkSession, d: String): DataFrame =
    scoreTopK(queryProbes(s, d), assigned(s, d), col("v"))

  /** Shared probes/scored/topk CTE block over a corpus source
    * (sub-select or CTE name) — the SQL mirror of [[scoreTopK]]. */
  private def scoredTopkCtes(corpusSrc: String): String =
    s"""probes AS (
       |  SELECT vec_id AS query_id, cid, v AS qv, nrm AS qnrm
       |  FROM ranked WHERE rn <= (SELECT np FROM kparam) AND vec_id < $NQueryVecs),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, len(p.qv)+1), i -> p.qv[i] * a.v[i]))
       |      / sqrt(CAST(p.qnrm AS DOUBLE) * a.nrm), 4) AS cos
       |  FROM probes p JOIN $corpusSrc a
       |    ON p.cid = a.cid AND p.query_id <> a.vec_id),
       |topk AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rk FROM scored)""".stripMargin

  private def knnIvfSql =
    s"""WITH v AS ($scaledVecSql),
       |$centroidsSqlCtes,
       |$rankedSql,
       |${scoredTopkCtes("(SELECT vec_id, v, nrm, cid FROM ranked WHERE rn = 1)")}
       |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, cos
       |FROM topk WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  // ------------------------------------------------------------- IVF recall

  /** Recall@k of the IVF search against the exact brute-force answer —
    * the quality metric that makes the approximate operator's trade-off
    * measurable (probing ⌈√K⌉ of the K lists trades recall for the
    * candidate-set reduction). Both sides are deterministic, so the
    * recall itself is oracle-checkable. */
  private def ivfRecall(s: SparkSession, d: String): DataFrame = {
    val exact = knnBrute(s, d).select(col("query_id"), col("neighbor_id"))
    val approx = knnIvf(s, d).select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(TopK.toDouble), 4).as("recall"))
      .orderBy(col("query_id"))
  }

  private def ivfRecallSql =
    s"""WITH exact AS ($knnBruteSql),
       |approx AS ($knnIvfSql),
       |hits AS (
       |  SELECT e.query_id, count(*) AS n_hits
       |  FROM exact e JOIN approx a
       |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |  GROUP BY e.query_id)
       |SELECT q.query_id,
       |  coalesce(h.n_hits, 0) AS n_hits,
       |  round(coalesce(h.n_hits, 0) / CAST($TopK AS DOUBLE), 4) AS recall
       |FROM (SELECT DISTINCT query_id FROM exact) q
       |LEFT JOIN hits h ON q.query_id = h.query_id
       |ORDER BY q.query_id""".stripMargin

  // --------------------------------------------------------- label centroids

  /** Mean vector per label (integer sums + one exact division per
    * component), then each query vector's nearest centroid — a
    * classify-by-centroid operator exercising distributed vector agg. */
  private def labelCentroids(s: SparkSession, d: String): DataFrame = {
    val v = scaledVecCached(s, d)
    val byLabel = v.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(element_at(col("v"), 1)), 4).as("c1"),
        round(avg(element_at(col("v"), 2)), 4).as("c2"),
        round(avg(element_at(col("v"), 3)), 4).as("c3"))
      .orderBy(col("label"))
    byLabel
  }

  private val labelCentroidsSql =
    s"""WITH v AS ($scaledVecSql)
       |SELECT label, count(*) AS n_vecs,
       |  round(avg(v[1]), 4) AS c1, round(avg(v[2]), 4) AS c2,
       |  round(avg(v[3]), 4) AS c3
       |FROM v GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------- IVF bucket profile

  /** Inverted-list sizes of the trained quantizer — the operational
    * metric that proves no bucket degenerates into an all-pairs trap
    * (asserted <= ~20% of the corpus in SimilaritySpec; oracle-checked
    * so DuckDB's retrained centroids agree bucket for bucket). */
  private def ivfBuckets(s: SparkSession, d: String): DataFrame =
    assigned(s, d).groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("cid"))

  private def ivfBucketsSql =
    s"""WITH v AS ($scaledVecSql),
       |$centroidsSqlCtes,
       |$rankedSql
       |SELECT cid, count(*) AS n_vecs
       |FROM ranked WHERE rn = 1
       |GROUP BY cid ORDER BY cid""".stripMargin

  /** Clustering-quality metric: per-cell population and INERTIA — the
    * exact integer sum of squared distances |v − c|² = nrm + cnrm − 2·dot
    * to the assigned trained centroid. The number every k-means-backed
    * curation stage (IVF sizing, SemDeDup cell quality, coreset pruning)
    * watches to decide whether K fits the corpus. Exact BIGINT end to
    * end (component sums < 2^53, per-cell sums ≪ 2^63), so the oracle
    * reproduces it bit for bit. Scale shape: broadcast the K×dim
    * codebook, dist as a codegen'd dot product on the scan, ONE shuffle
    * on the cluster key for the aggregate. */
  private def kmeansInertia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cdf = centroids(s, d).map(c => (c.cid, c.c, c.cnrm)).toDF("cid", "c", "cnrm")
    assigned(s, d)
      .join(broadcast(cdf), "cid")
      .select(col("cid"),
        (col("nrm") + col("cnrm")
          - lit(2L) * graft.functions.ScaledDotProduct(col("v"), col("c")))
          .as("dist"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("dist")).as("inertia"))
      .orderBy(col("cid"))
  }

  private def kmeansInertiaSql =
    s"""WITH v AS ($scaledVecSql),
       |$centroidsSqlCtes,
       |$rankedSql,
       |a AS (SELECT vec_id, v, nrm, cid FROM ranked WHERE rn = 1)
       |SELECT a.cid, count(*) AS n_assigned,
       |  CAST(sum(a.nrm + c.cnrm
       |    - 2 * list_sum(list_transform(range(1, len(a.v)+1), k -> a.v[k] * c.c[k])))
       |    AS BIGINT) AS inertia
       |FROM a JOIN centroids c USING (cid)
       |GROUP BY a.cid ORDER BY cid""".stripMargin

  // ------------------------------------------- cluster-balanced sampling

  /** Diversity-preserving subset selection: a fixed per-cluster quota
    * drawn from the TRAINED quantizer's cells (the data-curation
    * counterpart of SemDeDup — instead of dropping near-dups, keep a
    * balanced cross-section of the embedding space). Selection within a
    * cluster is a deterministic Knuth-hash order, so it is unbiased w.r.t.
    * insertion order yet bit-replayable by the oracle. At 100 TB this is
    * one window over the assignment — no extra shuffle beyond the
    * cluster key. */
  private val SamplePerCluster = 5

  private def clusterSample(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("cid"))
      .orderBy((col("vec_id") * SampleMult) % SampleMod, col("vec_id"))
    assigned(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SamplePerCluster)
      .select(col("cid"), col("vec_id"), col("label"))
      .orderBy(col("cid"), col("vec_id"))
  }

  /** Prototype selection (SSL-prototypes pruning metric, Sorscher et al.
    * 2022, arXiv:2206.14486; the D4 pipeline's second stage, Tirumala et
    * al. 2023, arXiv:2308.12284 — public papers): rank each cluster's
    * members by exact distance to their trained centroid and keep the
    * closest M — the "most prototypical" cross-section used to prune or
    * re-weight training corpora. Where [[clusterSample]] draws a random
    * quota, this selects BY the geometry. Everything is integer math
    * over the scaled vectors (dist = nrm + cnrm − 2·dot), so ranks are
    * bit-replayable — no float-ordering hazard. Scale shape: broadcast
    * the K×dim codebook, one window over the cluster key; the per-cell
    * sort is bounded by the same bucket-balance invariant
    * sim_ivf_buckets asserts. */
  private val CoresetPerCluster = 8

  private def coresetPrototypes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cdf = centroids(s, d).map(c => (c.cid, c.c, c.cnrm)).toDF("cid", "c", "cnrm")
    val w = Window.partitionBy(col("cid")).orderBy(col("dist"), col("vec_id"))
    assigned(s, d)
      .join(broadcast(cdf), "cid")
      .withColumn("dist",
        col("nrm") + col("cnrm")
          - lit(2L) * graft.functions.ScaledDotProduct(col("v"), col("c")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CoresetPerCluster)
      .select(col("cid"), col("rk").cast("bigint").as("rk"),
        col("vec_id"), col("label"), col("dist"))
      .orderBy(col("cid"), col("rk"))
  }

  private def coresetPrototypesSql = {
    val dist =
      "x.nrm + c.cnrm - 2 * list_sum(list_transform(range(1, len(x.v)+1), k -> x.v[k] * c.c[k]))"
    s"""WITH v AS ($scaledVecSql),
       |$centroidsSqlCtes,
       |asg AS (
       |  SELECT vec_id, label, cid, dist FROM (
       |    SELECT x.vec_id, x.label, c.cid, $dist AS dist,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY $dist, c.cid) AS rn
       |    FROM v x CROSS JOIN centroids c)
       |  WHERE rn = 1),
       |sel AS (
       |  SELECT cid, vec_id, label, dist,
       |    row_number() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS rk
       |  FROM asg)
       |SELECT cid, CAST(rk AS BIGINT) AS rk, vec_id, label, CAST(dist AS BIGINT) AS dist
       |FROM sel WHERE rk <= $CoresetPerCluster
       |ORDER BY cid, rk""".stripMargin
  }

  private def clusterSampleSql =
    s"""WITH v AS ($scaledVecSql),
       |$centroidsSqlCtes,
       |$rankedSql,
       |asg AS (SELECT vec_id, label, cid FROM ranked WHERE rn = 1)
       |SELECT cid, vec_id, label FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cid
       |    ORDER BY (vec_id * $SampleMult) % $SampleMod, vec_id) AS srn
       |  FROM asg) t
       |WHERE srn <= $SamplePerCluster
       |ORDER BY cid, vec_id""".stripMargin

  // --------------------------------------------------- lake-served IVF

  // The VECTOR-SEARCH-OVER-THE-LAKE shape: the embedding corpus lives in
  // a SnapshotLog table partitioned by IVF bucket (one immutable file
  // per inverted list), so a query's probe set turns into MANIFEST
  // pruning — only the probed lists' FILES are ever opened. At 100 TB
  // this is the difference between "ANN over a table" and "ANN that
  // scans the table": probe width ⌈√K⌉ of K lists means the scan reads
  // ~√K/K of the corpus bytes, decided from the manifest alone, and the
  // index table compacts/expires/time-travels like any other table.
  private val lakeKnnFixture =
    new graft.queries.Lifecycle.FixtureCache("graft_simlake")

  private def lakeKnnDir(s: SparkSession, d: String): String =
    lakeKnnFixture.dir(s, d) { dir =>
      import graft.lake.SnapshotLog
      val rows = assigned(s, d)
        .withColumn("bucket", format_string("%04d", col("cid")))
      SnapshotLog.withTableLock(dir) {
        val files = SnapshotLog.writeData(s, dir, rows, Some("bucket"),
          statsCol = "vec_id")
        SnapshotLog.appendFiles(s, dir, files, rows.schema, expectedParent = None)
      }
    }

  private def lakeKnn(s: SparkSession, d: String): DataFrame = {
    import graft.lake.SnapshotLog
    val dir = lakeKnnDir(s, d)
    val snap = SnapshotLog.currentSnapshot(s, dir).get
    val probes = queryProbes(s, d)
    // probe bucket set: |queries| × np entries — metadata-sized collect
    val probeBuckets = probes
      .select(format_string("%04d", col("cid")).as("b")).distinct()
      .collect().map(_.getString(0)).toSet
    val scanned = snap.files.count(f => probeBuckets.contains(f.partition))
    val corpus = SnapshotLog.readPruned(s, dir, snap,
      f => probeBuckets.contains(f.partition))
    // parquet re-reads array elements nullable; the dot-product kernel
    // needs non-null elements (values never null by construction)
    val nnv = transform(col("v"), x => coalesce(x, lit(0L)))
    scoreTopK(probes, corpus, nnv)
      .select(col("*"),
        lit(scanned.toLong).as("n_files_scanned"),
        lit(snap.files.size.toLong).as("n_files_total"))
  }

  private def lakeKnnSql =
    s"""WITH v AS ($scaledVecSql),
       |$centroidsSqlCtes,
       |$rankedSql,
       |corpus AS (SELECT vec_id, v, nrm, cid FROM ranked WHERE rn = 1),
       |${scoredTopkCtes("corpus")},
       |counts AS (SELECT
       |  (SELECT count(*) FROM
       |    (SELECT DISTINCT p.cid FROM probes p
       |     JOIN (SELECT DISTINCT cid FROM corpus) c ON p.cid = c.cid))
       |    AS n_files_scanned,
       |  (SELECT count(DISTINCT cid) FROM corpus) AS n_files_total)
       |SELECT t.query_id, CAST(t.rk AS BIGINT) AS rk, t.neighbor_id, t.cos,
       |  CAST(n.n_files_scanned AS BIGINT) AS n_files_scanned,
       |  CAST(n.n_files_total AS BIGINT) AS n_files_total
       |FROM topk t, counts n WHERE t.rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  // ------------------------------------- lake IVF: incremental maintenance

  // Index MAINTENANCE without a rebuild (the 100-TB operational shape:
  // an embedding corpus grows by millions of vectors a day; retraining
  // and rewriting the whole index per batch is a non-starter): new
  // vectors are assigned to the EXISTING centroids and appended to the
  // bucket partitions through the commit log — one O(delta) append
  // commit, the base files untouched. The gate's top-k must equal the
  // FULL-REBUILD answer exactly (assignment is deterministic under a
  // fixed quantizer, so incremental-extend ≡ rebuild here), probe
  // pruning must keep skipping at the manifest, and the measured
  // file-count columns pin the per-bucket incremental layout (base file
  // + delta file, never a rewrite).
  private val lakeKnnIncFixture =
    new graft.queries.Lifecycle.FixtureCache("graft_simlakeinc")
  private val IncSliceMod = 5 // vec_id % 5 == 4 arrives "later"

  private def lakeKnnIncDir(s: SparkSession, d: String): String =
    lakeKnnIncFixture.dir(s, d) { dir =>
      import graft.lake.SnapshotLog
      val all = assigned(s, d)
        .withColumn("bucket", format_string("%04d", col("cid")))
      val base = all.filter(col("vec_id") % IncSliceMod =!= (IncSliceMod - 1))
      val delta = all.filter(col("vec_id") % IncSliceMod === (IncSliceMod - 1))
      SnapshotLog.withTableLock(dir) {
        val files = SnapshotLog.writeData(s, dir, base, Some("bucket"),
          statsCol = "vec_id")
        SnapshotLog.appendFiles(s, dir, files, base.schema, expectedParent = None)
      }
      // the maintenance step: assign-to-existing-centroids + append —
      // optimistic commit, zero base files touched
      SnapshotLog.withTableLock(dir) {
        val cur = SnapshotLog.currentSnapshot(s, dir)
        val files = SnapshotLog.writeData(s, dir, delta, Some("bucket"),
          statsCol = "vec_id")
        SnapshotLog.appendFiles(s, dir, files, delta.schema, cur)
      }
    }

  private def lakeKnnIncremental(s: SparkSession, d: String): DataFrame = {
    import graft.lake.SnapshotLog
    val dir = lakeKnnIncDir(s, d)
    val snap = SnapshotLog.currentSnapshot(s, dir).get
    val probes = queryProbes(s, d)
    val probeBuckets = probes
      .select(format_string("%04d", col("cid")).as("b")).distinct()
      .collect().map(_.getString(0)).toSet
    val scanned = snap.files.count(f => probeBuckets.contains(f.partition))
    // incremental-layout proof, measured from the log: exactly two
    // append commits, delta files stamped with commit 2, at most one
    // file per (bucket, commit) — an accidental rewrite fails this
    val snaps = SnapshotLog.snapshots(s, dir)
    val incOk = snaps.map(_.operation) == Seq("append", "append") &&
      snap.files.groupBy(f => (f.partition, f.seq)).forall(_._2.size == 1) &&
      snaps.head.files.forall(f => snap.files.exists(g =>
        g.path == f.path && g.seq == 1L))
    val corpus = SnapshotLog.readPruned(s, dir, snap,
      f => probeBuckets.contains(f.partition))
    val nnv = transform(col("v"), x => coalesce(x, lit(0L)))
    scoreTopK(probes, corpus, nnv)
      .select(col("*"),
        lit(scanned.toLong).as("n_files_scanned"),
        lit(snap.files.size.toLong).as("n_files_total"),
        lit(if (incOk) 1L else 0L).as("inc_ok"))
  }

  private def lakeKnnIncrementalSql =
    s"""WITH v AS ($scaledVecSql),
       |$centroidsSqlCtes,
       |$rankedSql,
       |corpus AS (SELECT vec_id, v, nrm, cid FROM ranked WHERE rn = 1),
       |${scoredTopkCtes("corpus")},
       |counts AS (SELECT
       |  (SELECT count(*) FROM (SELECT DISTINCT p.cid FROM probes p
       |     JOIN (SELECT DISTINCT cid FROM corpus
       |           WHERE vec_id % $IncSliceMod <> ${IncSliceMod - 1}) b
       |     ON p.cid = b.cid))
       |  + (SELECT count(*) FROM (SELECT DISTINCT p.cid FROM probes p
       |     JOIN (SELECT DISTINCT cid FROM corpus
       |           WHERE vec_id % $IncSliceMod = ${IncSliceMod - 1}) i
       |     ON p.cid = i.cid)) AS n_files_scanned,
       |  (SELECT count(DISTINCT cid) FROM corpus
       |     WHERE vec_id % $IncSliceMod <> ${IncSliceMod - 1})
       |  + (SELECT count(DISTINCT cid) FROM corpus
       |     WHERE vec_id % $IncSliceMod = ${IncSliceMod - 1}) AS n_files_total)
       |SELECT t.query_id, CAST(t.rk AS BIGINT) AS rk, t.neighbor_id, t.cos,
       |  CAST(n.n_files_scanned AS BIGINT) AS n_files_scanned,
       |  CAST(n.n_files_total AS BIGINT) AS n_files_total,
       |  CAST(1 AS BIGINT) AS inc_ok
       |FROM topk t, counts n WHERE t.rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  override def all: Seq[GraftQuery] = Seq(
    GraftQuery("sim_lake_knn", lakeKnn, Some(lakeKnnSql)),
    GraftQuery("sim_lake_knn_incremental", lakeKnnIncremental,
      Some(lakeKnnIncrementalSql)),
    GraftQuery("sim_cluster_sample", clusterSample, Some(clusterSampleSql)),
    GraftQuery("sim_coreset_prototypes", coresetPrototypes, Some(coresetPrototypesSql)),
    GraftQuery("sim_knn_brute", knnBrute, Some(knnBruteSql)),
    GraftQuery("sim_knn_ivf", knnIvf, Some(knnIvfSql)),
    GraftQuery("sim_ivf_recall", ivfRecall, Some(ivfRecallSql)),
    GraftQuery("sim_ivf_buckets", ivfBuckets, Some(ivfBucketsSql)),
    GraftQuery("sim_kmeans_inertia", kmeansInertia, Some(kmeansInertiaSql)),
    GraftQuery("sim_label_centroids", labelCentroids, Some(labelCentroidsSql)),
  )
}
