package graft.extensions

import graft.{GraftQuery, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents`.
  *
  * Four families, each with a DuckDB-replayable oracle (every hash in the
  * pipeline is seeded and RNG-free — md5-derived for word shingles and
  * SimHash, a polynomial rolling hash for char ngrams — so both engines
  * compute bit-identical signatures):
  *
  *  - exact:    group by content fingerprint (md5 of lowercased text)
  *  - MinHash:  shingle → K seeded min-hashes → banded LSH bucket join →
  *              verify exact Jaccard. Candidate generation is an equi-join
  *              on (band, band_key), NEVER all-pairs: at 100 TB the join
  *              shuffles each doc K/band times by band key, and only
  *              near-identical docs collide. Runs over word 3-shingles
  *              (dedup_minhash) and char trigrams (dedup_ngram).
  *  - SimHash:  32-bit shingle-majority signature, banded into 4×8-bit
  *              tables; hamming ≤ 3 implies (pigeonhole) at least one exact
  *              band, so the band equi-join has perfect recall at the
  *              threshold — the classic simhash dedup layout.
  *  - embedding: cosine near-dup over `embeddings`, bucketed by the sign
  *              pattern of leading components (a degenerate but
  *              deterministic coarse quantizer; swap for trained IVF
  *              centroids at scale — the bucket equi-join shape is what
  *              survives 100 TB, not the quantizer).
  *
  * Reference context: philotes has no fuzzy dedup; its exact-dup surface is
  * `GROUP BY id HAVING count(*)>1` (docs/query/sample-queries.sql:166-169).
  * These operators extend that to content-level dedup.
  */
object Dedup extends QueryModule {

  // ---------------------------------------------------------------- shingles

  /** Distinct word 3-shingles. Spark `sequence(0, n)` is stop-INCLUSIVE and
    * DuckDB `range(0, n)` stop-EXCLUSIVE; the two expressions below are
    * aligned index-for-index. Docs shorter than 3 tokens degrade to one
    * truncated shingle in both engines. */
  def wordShingles(text: Column): Column = {
    val toks = split(text, " ")
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - 3, lit(0))),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(3)))))
  }

  private val wordShinglesSql =
    """list_distinct(list_transform(range(0, greatest(len(string_split(text,' '))-2, 1)),
      |    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')))""".stripMargin

  private def charNgramsSql(n: Int) =
    s"""list_distinct(list_transform(range(0, greatest(length(text)-${n - 1}, 1)),
       |    i -> substr(text, i+1, $n)))""".stripMargin

  // ------------------------------------------------------------ exact dedup

  private def exactGroups(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
      .select(col("rep_id"), col("n_copies"), col("fp"))
      .orderBy(col("rep_id"))

  private val exactGroupsSql =
    """SELECT min(doc_id) AS rep_id, count(*) AS n_copies, md5(lower(text)) AS fp
      |FROM documents GROUP BY md5(lower(text)) ORDER BY rep_id""".stripMargin

  private def exactSummary(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_unique"))
      .withColumn("n_dups", col("n_docs") - col("n_unique"))

  private val exactSummarySql =
    """SELECT count(*) AS n_docs, count(DISTINCT md5(lower(text))) AS n_unique,
      | count(*) - count(DISTINCT md5(lower(text))) AS n_dups
      |FROM documents""".stripMargin

  // ------------------------------------------------ cross-dataset membership

  /** `dedup_bloom_prefilter`: drop from an incoming batch every document
    * whose fingerprint already exists in the corpus — the cross-dataset
    * stage (dedup against an earlier crawl, decontaminate against a prior
    * dump) where the corpus fingerprint set is too large to broadcast
    * exactly. Two stages:
    *
    *  1. a Bloom filter over corpus fingerprints, built DISTRIBUTED by
    *     Spark's own `BloomFilterAggregate` (partial sketches merge on
    *     the reduce side — the same machinery the engine's runtime-filter
    *     optimization plants), collected once as metadata-sized bytes and
    *     applied SCAN-SIDE to the batch via the codegen'd
    *     `BloomFilterMightContain`: non-members die inside the scan
    *     stage, shuffling nothing;
    *  2. the survivors (true members + the sketch's false positives)
    *     verify against the corpus by an exact fingerprint join with the
    *     PREFILTERED batch side broadcast — the corpus never shuffles.
    *
    * The sketch admits no false negatives, and the verify join kills its
    * false positives, so the output is exactly the true membership set —
    * which the oracle replays sketch-free with a plain join. The batch
    * here is synthesized from the corpus (every 5th doc re-arrives
    * verbatim = a member; every 5th+1 arrives edited = a non-member) so
    * both engines derive identical inputs. */
  private def bloomPrefilter(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.select(col("doc_id"),
      graft.functions.PolyHash(col("text")).as("fp"))
    val batch = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("new_id"), col("text"))
      .unionAll(docs.where(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 2000000L).as("new_id"),
          concat(col("text"), lit(" v2")).as("text")))
      .select(col("new_id"), graft.functions.PolyHash(col("text")).as("fp"))
    // sizing stat for the sketch: a footer-served count, driver-side
    // metadata like the sketch bytes themselves
    val nCorpus = math.max(docs.count(), 1L)
    val bloomBytes = corpus
      .agg(org.apache.spark.sql.GraftBridge
        .bloomAggregate(col("fp"), nCorpus).as("bf"))
      .head().getAs[Array[Byte]](0)
    val prefiltered = batch.where(org.apache.spark.sql.GraftBridge
      .bloomMightContain(lit(bloomBytes), col("fp")))
    corpus.join(broadcast(prefiltered), Seq("fp"))
      .groupBy(col("new_id"))
      .agg(min(col("doc_id")).as("rep_id"))
      .orderBy(col("new_id"))
  }

  /** The ONE guarded DuckDB poly_hash snippet (empty string → 0 like
    * the kernel — list_reduce refuses an empty list). */
  private def phSql(e: String) = TextAnalysis.phSql(e)

  private val bloomPrefilterSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, ${phSql("text")} AS fp FROM documents),
       |batch AS (
       |  SELECT doc_id + 1000000 AS new_id, ${phSql("text")} AS fp
       |  FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, ${phSql("text || ' v2'")}
       |  FROM documents WHERE doc_id % 5 = 1)
       |SELECT b.new_id, min(c.doc_id) AS rep_id
       |FROM batch b JOIN corpus c USING (fp)
       |GROUP BY b.new_id ORDER BY new_id""".stripMargin

  // ---------------------------------------------------------- MinHash + LSH

  private val K = 8 // minhash functions

  /** Candidate pairs from the banded LSH bucket join, verified with exact
    * set Jaccard >= `threshold`. Output: (doc_a, doc_b, jaccard).
    *
    * Signature computation (the md5-heavy per-row loop) runs as a typed
    * map over [[Signatures]] — see that file for why a JVM kernel beats
    * interpreted higher-order expressions ~20× here. The candidate join
    * and verify stage stay declarative so Catalyst plans them.
    *
    * `bandRows` tunes selectivity: K/bandRows bands of bandRows hashes.
    * A band collides with probability jaccard^bandRows — wider bands for
    * shingle spaces where random pairs already overlap heavily.
    */
  /** One persisted signature set per (session, sfDir, shingle kind): the
    * kernel output is consumed by several registered queries (pairs,
    * survivors, clusters), and by four joins within each — recomputing it
    * per consumer was the dominant dedup cost in the r02 bench. */
  private val sigCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String, Int), DataFrame]

  private def signatures(s: SparkSession, d: String, kind: String,
                         sigFn: String => (Seq[Long], Seq[Long]),
                         bandRows: Int): DataFrame =
    graft.CacheFill(sigCache, (graft.SessionKeys(s), d, kind, bandRows)) {
      import s.implicits._
      // repartition: the fixture is one parquet file = one input split; the
      // signature kernel is the expensive stage, so spread it across cores
      // (at production scale the source has many splits and this is a no-op
      // cost-wise — the shuffle payload here is just (id, text)).
      Tables.documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
        .repartition(s.sparkContext.defaultParallelism)
        .map { case (id, t) =>
          val (shs, mh) = sigFn(t)
          (id, shs, mh, Signatures.bandKeys(mh, bandRows))
        }
        .toDF("doc_id", "sh", "mh", "bands")
        .persist()
    }

  /** Word-shingle signature function: md5w32 per distinct shingle; the
    * verify set is the distinct HASH set, not the strings — Jaccard over
    * hashed shingles (deterministic cross-engine; the oracle applies the
    * same hash) with an int64 set join instead of string arrays. */
  private val wordSig: String => (Seq[Long], Seq[Long]) = { t =>
    val sh = Signatures.wordShingles(t)
    (Signatures.hashedSet(sh), Signatures.minhash(sh, K))
  }

  /** Char-ngram signature function: polynomial rolling hash per position —
    * no md5 and no per-window string materialization at all. */
  private val charSig: String => (Seq[Long], Seq[Long]) =
    t => Signatures.charNgramSig(t, NgramN, K)

  /** Verified pairs are consumed by four registered queries (pairs,
    * survivors, clusters, jaccard-est) — persist the small result once
    * per (session, dir, configuration) like the signatures above. */
  private val pairsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]

  /** Per-call persisted frames (cluster labels) that outlive their query's
    * return but are not keyed caches — retained so [[invalidateCaches]]
    * can free them. */
  private val retained =
    java.util.concurrent.ConcurrentHashMap.newKeySet[DataFrame]()

  /** locally-checkpointed per-round RDDs of the component-contraction
    * loop (tiny: near-dup vertex/edge lists). The ContextCleaner only
    * reclaims them on GC, so [[invalidateCaches]] releases them
    * deterministically; NOT released per-round because the final label
    * frame's lineage reaches the last round's checkpoints. */
  private val frozenRdds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.rdd.RDD[_]]()

  /** Release every persisted frame this module holds. A long-lived engine
    * calls this BETWEEN workloads (specs exercise it); the bench/verify
    * binaries rely on process exit. For the keyed caches, unpersist only
    * forces recomputation, never wrong answers — but the cluster-label
    * frames and their [[frozenRdds]] are lineage-TRUNCATED local
    * checkpoints, so an invalidate that races an in-flight cluster query
    * fails that query's job (checkpoint blocks gone, no lineage to
    * recompute) rather than recomputing silently. Between workloads —
    * the documented call point — nothing is in flight. */
  def invalidateCaches(): Unit = {
    // keyed caches sweep under each map's monitor (CacheFill.invalidate)
    // so a fill completing mid-invalidate cannot be dropped from the map
    // unpersisted; retained/frozenRdds are append-only SETS, where an
    // add landing after the clear simply stays visible to the NEXT
    // sweep — no interleaving can orphan an entry
    graft.CacheFill.invalidate(sigCache)(_.unpersist())
    graft.CacheFill.invalidate(pairsCache)(_.unpersist())
    graft.CacheFill.invalidate(spanIslandCache)(_.unpersist())
    retained.forEach(df => df.unpersist())
    retained.clear()
    graft.CacheFill.invalidate(componentLabelCache)(_ => ()) // owned by retained
    frozenRdds.forEach(rdd => rdd.unpersist(false))
    frozenRdds.clear()
  }

  private def lshPairs(s: SparkSession, d: String, kind: String,
                       sigFn: String => (Seq[Long], Seq[Long]), threshold: Double,
                       bandRows: Int = 2): DataFrame =
    graft.CacheFill(pairsCache,
      (graft.SessionKeys(s), d, s"$kind|$threshold|$bandRows"))(
      lshPairsUncached(s, d, kind, sigFn, threshold, bandRows).persist())

  private def lshPairsUncached(s: SparkSession, d: String, kind: String,
                       sigFn: String => (Seq[Long], Seq[Long]), threshold: Double,
                       bandRows: Int): DataFrame = {
    val sig = signatures(s, d, kind, sigFn, bandRows)
    val sh = sig.select(col("doc_id"), col("sh"))
    val bands = sig
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("b", "bk")))
    val cand = bands.alias("a")
      .join(bands.alias("b"),
        col("a.b") === col("b.b") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify: |a ∩ b| by linear merge over the SORTED hash sets the
    // signature kernel emits, |a ∪ b| by arithmetic — the builtin
    // array_intersect/array_union pair built hash sets and materialized
    // the union array per candidate just to take its size, and was most
    // of this operator's runtime at ~58k candidates
    val inter = graft.functions.SortedIntersectSize(col("sh_a"), col("sh_b"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(inter * lit(1.0) /
          (size(col("sh_a")) + size(col("sh_b")) - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------ exact set-similarity join

  /** Exact all-pairs Jaccard join via PREFIX FILTERING (Bayardo, Ma &
    * Srikant 2007, "Scaling Up All Pairs Similarity Search", WWW; the
    * PPJoin family, Xiao et al. 2008 — public papers): a pair with
    * J >= t MUST share an element within each side's first
    * |s| − ⌈t·|s|⌉ + 1 elements of a global token order, so the
    * candidate join explodes only that bounded prefix of each doc's
    * SORTED shingle-hash set. EXACT — no sketch false negatives —
    * which makes it the ground truth [[lshRecall]] measures the
    * MinHash candidate stage against. Scale shape: the prefix explode
    * is a bounded fraction of the shingle mass, candidates come from
    * an equi-join on the shingle hash (a hot shingle skews exactly
    * like any hot join key — and lands in the prefix of FEW sets,
    * since prefixes prefer rare-end hashes under a frequency order;
    * plain hash order keeps the oracle exact and stays within ~2× of
    * that), and the verify stage reuses the sorted linear-merge
    * kernel. */
  private val SSJoinT = 0.5
  /** The verify stage admits round(J, 4) >= t, i.e. true J down to
    * t − 5e-5 — so the prefix must be sized for THAT bound, or a
    * razor-edge pair (possible once unions reach ~10k shingles) could
    * pass verification yet never surface as a candidate, silently
    * breaking the no-false-negative contract. */
  private val SSJoinPrefixT = SSJoinT - 1e-4

  private def exactJaccardPairs(s: SparkSession, d: String): DataFrame =
    graft.CacheFill(pairsCache,
      (graft.SessionKeys(s), d, s"word|exact|$SSJoinT"))(
      exactJaccardPairsUncached(s, d).persist())

  /** private[extensions]: the spec pins this plan's Window keys. */
  private[extensions] def exactJaccardPairsUncached(s: SparkSession, d: String): DataFrame = {
    val sig = signatures(s, d, "word3", wordSig, 2)
    val sh = sig.select(col("doc_id"), col("sh")) // sorted-distinct asc
    // Prefixes are taken under ASCENDING CORPUS FREQUENCY (ties by hash)
    // — Bayardo 2007's canonical order. Any global total order preserves
    // exactness (a qualifying pair must collide within both prefixes
    // under the SAME order), but rare-first prefixes shrink the candidate
    // mass ~2× on this corpus (spec-pinned) and defuse hot-shingle skew:
    // a shingle shared by 10% of the corpus sorts LAST, so it enters
    // almost no prefix and never becomes a hot join key.
    import org.apache.spark.sql.expressions.Window
    val ex = sh.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("h"))
    // Corpus frequency via groupBy + join-back, NOT count().over(Window
    // .partitionBy(h)): the window formulation gathers ALL of a hot
    // shingle's exploded rows into ONE unsplittable window task
    // (WindowExec buffers the partition and AQE cannot skew-split a
    // window), so the very key the frequency ORDER defuses downstream
    // would straggle the frequency stage itself at 100×. The groupBy
    // partial-aggregates map-side (a hot key reduces to one partial
    // count per map task) and the join-back is a plain shuffled
    // equi-join AQE's OptimizeSkewedJoin CAN split. `sh` projects the
    // persisted signature cache, so the two scans of `ex` read cached
    // columnar batches, not the tokenize+shingle lineage twice.
    val freq = ex.groupBy(col("h")).agg(count(lit(1)).as("f"))
    val rankW = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("h"))
    val pref = ex.join(freq, "h")
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * lit(SSJoinPrefixT)) + 1)
      .select(col("doc_id"), col("h"))
    val cand = pref.alias("a")
      .join(pref.alias("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = graft.functions.SortedIntersectSize(col("sh_a"), col("sh_b"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(inter * lit(1.0) /
          (size(col("sh_a")) + size(col("sh_b")) - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= SSJoinT)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared CTE block: sorted shingle sets + exact prefix-filtered
    * pairs, appended after [[lshCtesSql]] (which provides `shi`). */
  private def exactPairsCtesSql =
    s"""shs AS (SELECT doc_id, list_sort(sh) AS sh FROM shi),
       |hfreq AS (
       |  SELECT h, count(*) AS f
       |  FROM (SELECT unnest(sh) AS h FROM shs) GROUP BY h),
       |pre AS (
       |  SELECT doc_id, h FROM (
       |    SELECT e.doc_id, e.h, e.sz,
       |      row_number() OVER (PARTITION BY e.doc_id ORDER BY f.f, e.h) AS rn
       |    FROM (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h FROM shs) e
       |    JOIN hfreq f ON e.h = f.h) r
       |  WHERE rn <= sz - ceil(sz * $SSJoinPrefixT) + 1),
       |ecand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id),
       |exact AS (
       |  SELECT c.doc_a, c.doc_b,
       |    round(len(list_intersect(x.sh, y.sh)) * 1.0 /
       |          len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
       |  FROM ecand c
       |  JOIN shs x ON c.doc_a = x.doc_id
       |  JOIN shs y ON c.doc_b = y.doc_id
       |  WHERE jaccard >= $SSJoinT)""".stripMargin

  private def exactJaccardPairsSql =
    s"""${lshCtesSql(wordShinglesSql, 2, md5HashSql)},
       |$exactPairsCtesSql
       |SELECT doc_a, doc_b, jaccard FROM exact
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash candidate-stage RECALL against the exact join — the
    * metric that tunes K/bandRows (each band of r rows catches a pair
    * with probability j^r; K/r bands miss with (1−j^r)^(K/r)). The
    * exact side admits no false negatives, so every miss is the
    * sketch's. */
  private def lshRecall(s: SparkSession, d: String): DataFrame = {
    val exact = exactJaccardPairs(s, d).select(col("doc_a"), col("doc_b"))
    val lsh = lshPairs(s, d, "word3", wordSig, SSJoinT)
      .select(col("doc_a"), col("doc_b"))
    val hit = lsh.join(exact, Seq("doc_a", "doc_b"), "left_semi")
    import s.implicits._
    Seq((exact.count(), lsh.count(), hit.count()))
      .toDF("n_exact", "n_lsh", "n_hit")
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        when(col("n_exact") > 0,
          round(col("n_hit") * lit(1.0) / col("n_exact"), 4)).as("recall"))
  }

  private def lshRecallSql =
    s"""${lshCtesSql(wordShinglesSql, 2, md5HashSql)},
       |$exactPairsCtesSql,
       |lcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
       |lsh AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b,
       |      round(len(list_intersect(x.sh, y.sh)) * 1.0 /
       |            len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
       |    FROM lcand c
       |    JOIN shi x ON c.doc_a = x.doc_id
       |    JOIN shi y ON c.doc_b = y.doc_id)
       |  WHERE jaccard >= $SSJoinT),
       |stats AS (
       |  SELECT (SELECT count(*) FROM exact) AS n_exact,
       |    (SELECT count(*) FROM lsh) AS n_lsh,
       |    (SELECT count(*) FROM lsh l JOIN exact e
       |       ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b) AS n_hit)
       |SELECT n_exact, n_lsh, n_hit,
       |  CASE WHEN n_exact > 0
       |       THEN round(n_hit * 1.0 / n_exact, 4) END AS recall
       |FROM stats""".stripMargin

  /** md5w32 in SQL — the word-shingle base hash. */
  private val md5HashSql = "('0x' || substr(md5(s), 1, 8))::BIGINT"

  /** [[Signatures.polyHash]] in SQL — the char-ngram base hash. */
  private val polyHashSql =
    s"""list_reduce(list_transform(range(1, len(s)+1),
       |      j -> CAST(unicode(substr(s, j, 1)) AS BIGINT)),
       |      (a, b) -> (a * ${Signatures.PolyB} + b) % ${Signatures.MinhashP})""".stripMargin

  /** The shi/sig/bands CTE prefix shared by every minhash-LSH oracle. */
  private def lshCtesSql(shingleSql: String, bandRows: Int,
                         hashSql: String): String = {
    import Signatures.{MinhashA, MinhashB, MinhashP}
    val mh = (0 until K)
      .map(k => s"list_min(list_transform(sh, x -> (${MinhashA(k)}*x + ${MinhashB(k)}) % $MinhashP))")
      .mkString("[", ", ", "]")
    val bandIdx = (0 until K / bandRows).map(_.toString).mkString("[", ", ", "]")
    val bandKey = (1 to bandRows)
      .map(r => s"CAST(mh[$bandRows*b+$r] AS VARCHAR)").mkString(" || '|' || ")
    s"""WITH shi AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform($shingleSql, s -> $hashSql)) AS sh
       |  FROM documents),
       |sig AS (SELECT doc_id, $mh AS mh FROM shi),
       |bands AS (
       |  SELECT doc_id, b, $bandKey AS bk
       |  FROM sig, unnest($bandIdx) AS t(b))""".stripMargin
  }

  private def lshPairsSql(shingleSql: String, threshold: Double,
                          bandRows: Int = 2,
                          hashSql: String = md5HashSql): String =
    s"""${lshCtesSql(shingleSql, bandRows, hashSql)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  round(len(list_intersect(x.sh, y.sh)) * 1.0 /
       |        len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
       |FROM cand c
       |JOIN shi x ON c.doc_a = x.doc_id
       |JOIN shi y ON c.doc_b = y.doc_id
       |WHERE jaccard >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    lshPairs(s, d, "word3", wordSig, 0.5)

  // Char 5-grams with 2 bands of 4 rows: this corpus's alphabet is tiny,
  // so trigram sets of RANDOM pairs overlap ~0.6 and 2-row bands collide
  // for nearly every pair (5.8M candidates at sf0.1 — a quadratic
  // blow-up). 5-grams push random overlap down and 4-row bands demand
  // jaccard^4 per collision: ~58k candidates at sf0.1 (vs 12.5M pairs),
  // recall ~0.88 for the planted >=0.9 near-dups, verified at
  // jaccard >= 0.6 by the sorted-merge kernel.
  private val NgramN = 5
  private val NgramBandRows = 4

  private def ngramPairs(s: SparkSession, d: String): DataFrame =
    lshPairs(s, d, s"char$NgramN", charSig, 0.6, NgramBandRows)

  // ---- incremental dedup: the PRODUCTION shape — a NEW batch deduped
  // against the EXISTING corpus, not the corpus against itself. The
  // doc_id % 10 = 7 slice stands in for today's crawl; its bands join
  // only against the complement's bands, so candidate volume is
  // |new| x collision-rate, never corpus². At 100 TB the corpus-side
  // signatures are the precomputed index (here the shared sigCache);
  // only the new batch pays the signature kernel. Output is the dedup
  // DECISION per new doc: how many corpus near-dups, and the best one.
  private val IncrementalSlice = 7

  private def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val sig = signatures(s, d, "word3", wordSig, 2)
    val isNew = col("doc_id") % 10 === IncrementalSlice
    val bands = sig.select(col("doc_id"), posexplode(col("bands")).as(Seq("b", "bk")))
    val cand = bands.filter(isNew).alias("a")
      .join(bands.filter(!isNew).alias("b"),
        col("a.b") === col("b.b") && col("a.bk") === col("b.bk"))
      .select(col("a.doc_id").as("doc_new"), col("b.doc_id").as("doc_corpus"))
      .distinct()
    val sh = sig.select(col("doc_id"), col("sh"))
    val inter = graft.functions.SortedIntersectSize(col("sh_a"), col("sh_b"))
    cand
      .join(sh.select(col("doc_id").as("doc_new"), col("sh").as("sh_a")), "doc_new")
      .join(sh.select(col("doc_id").as("doc_corpus"), col("sh").as("sh_b")), "doc_corpus")
      .select(col("doc_new"), col("doc_corpus"),
        round(inter * lit(1.0) /
          (size(col("sh_a")) + size(col("sh_b")) - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .groupBy(col("doc_new"))
      .agg(count(lit(1)).as("n_matches"), max(col("jaccard")).as("best_jaccard"))
      .orderBy(col("doc_new"))
  }

  private val incrementalDedupSql =
    s"""${lshCtesSql(wordShinglesSql, 2, md5HashSql)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_corpus
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk
       |  WHERE a.doc_id % 10 = $IncrementalSlice
       |    AND b.doc_id % 10 <> $IncrementalSlice),
       |verified AS (
       |  SELECT c.doc_new,
       |    round(len(list_intersect(x.sh, y.sh)) * 1.0 /
       |          len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
       |  FROM cand c
       |  JOIN shi x ON c.doc_new = x.doc_id
       |  JOIN shi y ON c.doc_corpus = y.doc_id
       |  WHERE jaccard >= 0.5)
       |SELECT doc_new, count(*) AS n_matches, max(jaccard) AS best_jaccard
       |FROM verified GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- commit-log-backed incremental dedup: the CRAWL-CADENCE shape —
  // the signature corpus is a SnapshotLog TABLE, not a session cache.
  // Batch 0 seeds it; each later batch LSH-joins against the STORED
  // corpus state (arrays read back from parquet — lossless storage is
  // part of what the hash checks), and only the survivors' signatures
  // append as one atomic commit. At 100 TB this is the production
  // loop: the corpus index persists across jobs, each daily crawl pays
  // signatures for itself only, candidate volume is |new| × collision
  // rate, the corpus table time-travels (the state any past training
  // run deduped against is a snapshot id), and expire + compaction
  // maintain it like any other table.
  private val logDedupFixture =
    new graft.queries.Lifecycle.FixtureCache("graft_deduplog")

  /** Verified near-dup matches of `newSig` docs against `corpus`
    * (both in signature-table shape): (doc_new, jaccard ≥ 0.5). */
  private def logDedupMatches(newSig: DataFrame, corpus: DataFrame): DataFrame = {
    val nb = newSig.select(col("doc_id").as("doc_new"),
      posexplode(col("bands")).as(Seq("b", "bk")))
    val cb = corpus.select(col("doc_id").as("doc_corpus"),
      posexplode(col("bands")).as(Seq("b", "bk")))
    val cand = nb.join(cb, Seq("b", "bk"))
      .select(col("doc_new"), col("doc_corpus")).distinct()
    val inter = graft.functions.SortedIntersectSize(col("sh_a"), col("sh_b"))
    // the parquet round-trip re-reads array elements as nullable; the
    // sorted-merge kernel requires non-null elements — normalize (order
    // preserved, values are never null by construction)
    def nn(c: org.apache.spark.sql.Column) =
      transform(c, x => coalesce(x, lit(0L)))
    cand
      .join(newSig.select(col("doc_id").as("doc_new"),
        nn(col("sh")).as("sh_a")), "doc_new")
      .join(corpus.select(col("doc_id").as("doc_corpus"),
        nn(col("sh")).as("sh_b")), "doc_corpus")
      .select(col("doc_new"),
        round(inter * lit(1.0) /
          (size(col("sh_a")) + size(col("sh_b")) - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  private def logDedupBatch(s: SparkSession, d: String, k: Int): DataFrame =
    signatures(s, d, "word3", wordSig, 2).filter(col("doc_id") % 3 === k)

  private def logDedupDir(s: SparkSession, d: String): String =
    logDedupFixture.dir(s, d) { dir =>
      import graft.lake.SnapshotLog
      SnapshotLog.withTableLock(dir) {
        val b0 = logDedupBatch(s, d, 0)
        val files = SnapshotLog.writeData(s, dir, b0, None, statsCol = "doc_id")
        SnapshotLog.appendFiles(s, dir, files, b0.schema, expectedParent = None)
      }
      (1 to 2).foreach { k =>
        val corpus = SnapshotLog.readCurrent(s, dir).get
        val dups = logDedupMatches(logDedupBatch(s, d, k), corpus)
          .select(col("doc_new").as("doc_id")).distinct()
        val survivors = logDedupBatch(s, d, k).join(dups, Seq("doc_id"), "left_anti")
        SnapshotLog.withTableLock(dir) {
          val cur = SnapshotLog.currentSnapshot(s, dir).get
          val files = SnapshotLog.writeData(s, dir, survivors, None,
            statsCol = "doc_id")
          SnapshotLog.appendFiles(s, dir, files, cur.schema, Some(cur))
        }
      }
    }

  /** Per-round dedup decisions recomputed against the LOGGED corpus
    * snapshots (so every run re-measures the real stored-corpus joins),
    * with corpus sizes from the manifest. */
  private def logIncremental(s: SparkSession, d: String): DataFrame = {
    import graft.lake.SnapshotLog
    val dir = logDedupDir(s, d)
    (1 to 2).map { k =>
      val before = SnapshotLog.snapshotAt(s, dir, k)
      val after = SnapshotLog.snapshotAt(s, dir, k + 1)
      val corpus = SnapshotLog.read(s, dir, before)
      val dupIds = logDedupMatches(logDedupBatch(s, d, k), corpus)
        .select(col("doc_new")).distinct()
      logDedupBatch(s, d, k).agg(count(lit(1)).as("n_new"))
        .crossJoin(dupIds.agg(count(lit(1)).as("n_dups")))
        .select(lit(k).as("round"), col("n_new"), col("n_dups"),
          (col("n_new") - col("n_dups")).as("n_survivors"),
          lit(after.totalRows).as("corpus_rows"))
    }.reduce(_ unionByName _).orderBy(col("round"))
  }

  private val logIncrementalSql =
    s"""${lshCtesSql(wordShinglesSql, 2, md5HashSql)},
       |cand1 AS (SELECT DISTINCT a.doc_id AS dn, b.doc_id AS dc
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk
       |  WHERE a.doc_id % 3 = 1 AND b.doc_id % 3 = 0),
       |dup1 AS (SELECT DISTINCT c.dn FROM cand1 c
       |  JOIN shi x ON c.dn = x.doc_id JOIN shi y ON c.dc = y.doc_id
       |  WHERE round(len(list_intersect(x.sh, y.sh)) * 1.0 /
       |        len(list_distinct(list_concat(x.sh, y.sh))), 4) >= 0.5),
       |surv1 AS (SELECT doc_id FROM sig WHERE doc_id % 3 = 1
       |  AND doc_id NOT IN (SELECT dn FROM dup1)),
       |corpus2 AS (SELECT doc_id FROM sig WHERE doc_id % 3 = 0
       |  UNION ALL SELECT doc_id FROM surv1),
       |cand2 AS (SELECT DISTINCT a.doc_id AS dn, b.doc_id AS dc
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk
       |  WHERE a.doc_id % 3 = 2
       |    AND b.doc_id IN (SELECT doc_id FROM corpus2)),
       |dup2 AS (SELECT DISTINCT c.dn FROM cand2 c
       |  JOIN shi x ON c.dn = x.doc_id JOIN shi y ON c.dc = y.doc_id
       |  WHERE round(len(list_intersect(x.sh, y.sh)) * 1.0 /
       |        len(list_distinct(list_concat(x.sh, y.sh))), 4) >= 0.5),
       |n AS (SELECT
       |  (SELECT count(*) FROM sig WHERE doc_id % 3 = 0) AS c0,
       |  (SELECT count(*) FROM sig WHERE doc_id % 3 = 1) AS n1,
       |  (SELECT count(*) FROM dup1) AS d1,
       |  (SELECT count(*) FROM sig WHERE doc_id % 3 = 2) AS n2,
       |  (SELECT count(*) FROM dup2) AS d2)
       |SELECT CAST(1 AS INT) AS round, CAST(n1 AS BIGINT) AS n_new,
       |  CAST(d1 AS BIGINT) AS n_dups, CAST(n1 - d1 AS BIGINT) AS n_survivors,
       |  CAST(c0 + n1 - d1 AS BIGINT) AS corpus_rows FROM n
       |UNION ALL
       |SELECT CAST(2 AS INT), CAST(n2 AS BIGINT), CAST(d2 AS BIGINT),
       |  CAST(n2 - d2 AS BIGINT), CAST(c0 + n1 - d1 + n2 - d2 AS BIGINT) FROM n
       |ORDER BY round""".stripMargin

  /** Deduplicated corpus: drop the higher-id doc of every verified near-dup
    * pair (the anti-join is the scale shape: pairs table is tiny relative
    * to the corpus, so Catalyst broadcasts it). */
  private def minhashSurvivors(s: SparkSession, d: String): DataFrame = {
    val dups = minhashPairs(s, d).select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(s, d)
      .join(dups, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  private val minhashSurvivorsSql = {
    s"""WITH pairs AS (${lshPairsSql(wordShinglesSql, 0.5)})
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- SimHash

  private val SimBits = 32
  private val SimBandBits = 8 // 4 bands of 8 bits; exact-band recall for ham <= 3
  private val HamMax = 3

  private def simhashSql: String = {
    val bitTerms = (0 until SimBits).map { b =>
      val chPos = b / 4 + 1
      val bitInChar = b % 4
      val hexVal = s"(strpos('0123456789abcdef', substr(md5(t), $chPos, 1)) - 1)"
      s"""CASE WHEN list_sum(list_transform(sh,
         |    t -> CASE WHEN (CAST(floor($hexVal / ${1 << bitInChar}) AS BIGINT) % 2) = 1
         |         THEN 1 ELSE -1 END)) > 0
         |  THEN CAST(${1L << b} AS BIGINT) ELSE 0 END""".stripMargin
    }
    bitTerms.mkString("(", " + ", ")")
  }

  /** Near-dup pairs by SimHash: band equi-join (4 bands of 8 bits) then
    * verify hamming distance <= 3. Scale note: 8-bit bands cap the
    * bucket space at 4 × 256, so buckets grow linearly with the corpus
    * and the ALL-PAIRS output is itself quadratic in cluster size —
    * this is the demo-scale sketch; at 100 TB the star-list operators
    * ([[Multimodal.hammingNeighborsBounded]], whose oversized buckets
    * re-split by sub-bands of the remaining bits) and the 56-bit hash
    * space are the production path. */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nBands = SimBits / SimBandBits
    val sg = graft.CacheFill(sigCache,
      (graft.SessionKeys(s), d, "simhash32", 0))(
      Tables.documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .repartition(s.sparkContext.defaultParallelism)
        .map { case (id, t) => (id, Signatures.simhash32(Signatures.wordShingles(t))) }
        .toDF("doc_id", "sh")
        .persist())
    val bands = sg.select(col("doc_id"), col("sh"),
      posexplode(array((0 until nBands).map(j =>
        shiftright(col("sh"), j * SimBandBits) % lit(1 << SimBandBits)): _*)).as(Seq("b", "bv")))
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= HamMax)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def simhashPairsSql: String = {
    val nBands = SimBits / SimBandBits
    val bandIdx = (0 until nBands).map(_.toString).mkString("[", ", ", "]")
    s"""WITH shi AS (
       |  SELECT doc_id, $wordShinglesSql AS sh FROM documents),
       |sg AS (SELECT doc_id, $simhashSql AS sh FROM shi),
       |bands AS (
       |  SELECT doc_id, sh, j, CAST(floor(sh / power(2, j*$SimBandBits)) AS BIGINT) % ${1 << SimBandBits} AS bv
       |  FROM sg, unnest($bandIdx) AS t(j))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= $HamMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------- sketch-vs-truth jaccard metric

  /** For every verified word-shingle near-dup pair: the MinHash ESTIMATE of
    * jaccard (fraction of the K hash functions agreeing) next to the exact
    * value — the metric that quantifies what the sketch trades away. At
    * 100 TB the estimate is what you can afford to compute for all
    * candidate pairs; this query is the calibration harness for it. */
  private def jaccardEst(s: SparkSession, d: String): DataFrame = {
    val sig = signatures(s, d, "word3", wordSig, 2)
    val pairs = minhashPairs(s, d).select(col("doc_a"), col("doc_b"), col("jaccard"))
    pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("mh").as("mh_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("mh").as("mh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(filter(zip_with(col("mh_a"), col("mh_b"),
          (x, y) => when(x === y, lit(1)).otherwise(lit(0))), v => v === 1))
          / lit(K.toDouble), 4).as("est_jaccard"),
        col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val jaccardEstSql = {
    import Signatures.{MinhashA, MinhashB, MinhashP}
    val mh = (0 until K)
      .map(k => s"list_min(list_transform(sh, x -> (${MinhashA(k)}*x + ${MinhashB(k)}) % $MinhashP))")
      .mkString("[", ", ", "]")
    val agree = (1 to K)
      .map(j => s"CASE WHEN a.mh[$j] = b.mh[$j] THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH pairs AS (${lshPairsSql(wordShinglesSql, 0.5)}),
       |shi AS (SELECT doc_id,
       |  list_distinct(list_transform($wordShinglesSql, s -> $md5HashSql)) AS sh
       |  FROM documents),
       |sig AS (SELECT doc_id, $mh AS mh FROM shi)
       |SELECT p.doc_a, p.doc_b,
       |  round(($agree) / CAST($K AS DOUBLE), 4) AS est_jaccard,
       |  p.jaccard
       |FROM pairs p
       |JOIN sig a ON p.doc_a = a.doc_id
       |JOIN sig b ON p.doc_b = b.doc_id
       |ORDER BY p.doc_a, p.doc_b""".stripMargin
  }

  // ------------------------------------------- near-dup cluster assignment

  /** Connected components over a verified near-dup pair graph:
    * (u, lbl) with lbl = min id of u's component — docs absent from the
    * pair list get no row (singletons; callers coalesce to self).
    * Implemented as distributed hash-to-min label propagation — each
    * iteration is one join + aggregation over the edge list, labels
    * converge in O(component diameter) rounds. That is the standard BSP
    * shape for connected components at scale (the pair graph at 100 TB
    * still fits the join-per-round pattern; no driver-side union-find,
    * no collect). Deterministic: the fixpoint is the component-wise
    * minimum regardless of iteration order. Shared by the text cluster
    * query and the multimodal cluster queries.
    *
    * `maxRounds` is injectable ONLY so the spec can force the cap and
    * pin the non-convergence throw below — production callers take the
    * default, which is far above the O(log²n) bound (60 rounds covers
    * n ≈ 2^(sqrt 60·c) vertices for any plausible constant). */
  private[extensions] def connectedComponents(pairs: DataFrame,
                                              maxRounds: Int = 60): DataFrame = {
    // Alternating large-star / small-star contraction (Kiveris,
    // Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components
    // in MapReduce and Beyond", SoCC 2014 — public paper): each round
    // rewires every vertex's neighbors to its neighborhood minimum
    // (large-star: the strictly-larger neighbors; small-star: the rest),
    // which provably converges to per-component stars on the component
    // minima in O(log^2 n) rounds (O(log n) observed) REGARDLESS of
    // graph shape. Plain min-label propagation needs O(diameter)
    // rounds, and chain-shaped components — hashes drifting a bit per
    // step, exactly what perceptual near-dup graphs produce — made that
    // 100+ Spark jobs at sf0.1. Each round is two join+agg passes over
    // the (near-dup-vertices-only) edge list; no driver-side
    // union-find, no collect.
    //
    // freeze(): materialize a round, TRUNCATE its lineage, and RESET
    // its statistics. Un-truncated lineage grows exponentially with
    // rounds, and Dataset.localCheckpoint alone is not enough — it
    // snapshots the origin plan's sizeInBytes into the LogicalRDD, and
    // since visitJoin MULTIPLIES child sizes, the stat's bit-length
    // compounds per round until the BigInt arithmetic inside
    // JoinSelection itself becomes the bottleneck (observed as a hang
    // ~25 rounds in). Rebuilding from the checkpointed RDD gives a
    // stats-free leaf: plain shuffle joins each round, which is what
    // these are. A production run on a real cluster would use reliable
    // checkpointing here to survive executor loss.
    // Superseded rounds release EAGERLY: once round k's checkpoints
    // are materialized, round k-1's blocks are in no live lineage
    // (localCheckpoint truncated it), so holding them adds only risk.
    // The FINAL round's checkpoints stay tracked in [[frozenRdds]] —
    // the returned label frame's lineage reaches them.
    var liveRound = List.empty[org.apache.spark.rdd.RDD[_]]
    var thisRound = List.empty[org.apache.spark.rdd.RDD[_]]
    // freeze already materializes with a count — CAPTURE it so the
    // fixpoint check below never re-scans a frozen round (the old
    // next.count()/edges.count() re-reads were 2 extra jobs per round
    // on a loop whose cost is all per-job fixed overhead at small SF)
    def freeze(df: DataFrame): (DataFrame, Long) = {
      val rdd = df.rdd
      rdd.localCheckpoint()
      val n = rdd.count()
      frozenRdds.add(rdd)
      thisRound ::= rdd
      (df.sparkSession.createDataFrame(rdd, df.schema), n)
    }
    def retire(): Unit = {
      liveRound.foreach { r => r.unpersist(false); frozenRdds.remove(r) }
      liveRound = thisRound
      thisRound = Nil
    }
    def star(e: DataFrame, large: Boolean): (DataFrame, Long) = {
      val dir = e.union(e.select(col("b"), col("a")).toDF("a", "b"))
      // center u's neighborhood minimum m = min(u, all neighbors)
      val m = dir.groupBy(col("a"))
        .agg(least(col("a"), min(col("b"))).as("m"))
        .withColumnRenamed("a", "ctr")
      val sided =
        if (large) dir.filter(col("b") > col("a")) // strictly larger side
        else dir.filter(col("b") <= col("a")) // rest, + the center itself
      val base = sided.join(m, sided("a") === m("ctr"))
        .select(col("b").as("a"), col("m").as("b"))
      val self =
        if (large) base
        else base.union(m.select(col("ctr").as("a"), col("m").as("b")))
      freeze(self.filter(col("a") =!= col("b")).distinct())
    }
    var (edges, edgeCount) = freeze(pairs.toDF("a", "b")
      .filter(col("a") =!= col("b")).distinct())
    // vertices live until the final label join — never retired on the
    // success path (the throw path releases them: they are that call's
    // largest stranded asset, O(distinct vertex ids) blocks)
    val (verticesRdd, verticesSchema) = {
      val vdf = edges.select(col("a").as("u"))
        .union(edges.select(col("b").as("u"))).distinct()
      val rdd = vdf.rdd
      rdd.localCheckpoint()
      rdd.count()
      frozenRdds.add(rdd)
      (rdd, vdf.schema)
    }
    val vertices =
      pairs.sparkSession.createDataFrame(verticesRdd, verticesSchema)
    var rounds = 0
    var done = edgeCount == 0L
    // seed edges+vertices form round 0; they must survive until the
    // first contraction's fixpoint check has read them
    retire()
    while (!done && rounds < maxRounds) {
      val (mid, _) = star(edges, large = true)
      val (next, nextCount) = star(mid, large = false)
      // fixpoint = the edge set stopped changing (same cardinality AND
      // nothing new — cardinalities come from the freeze counts, and the
      // except runs only on a cardinality tie; both sides are exact on
      // the frozen frames)
      done = nextCount == edgeCount && next.except(edges).isEmpty
      retire() // previous round fully consumed by the check above
      edges = next
      edgeCount = nextCount
      rounds += 1
    }
    // a silent non-fixpoint would hand out WRONG cluster ids (the
    // labels below would be neighborhood minima, not component minima)
    // — loud only. Spec-pinned via the injectable cap: this throw was
    // once deleted by a refactor and the fixture never hits the cap,
    // so only a forced-cap spec keeps it un-deletable.
    if (!done) {
      // the aborted call's blocks are debris, not results — release the
      // final round AND the vertices checkpoint before failing, so a
      // caught throw strands nothing in executor storage (a long-lived
      // engine retrying cluster queries must not accumulate leaks)
      retire() // liveRound = final round; thisRound already Nil
      verticesRdd.unpersist(false)
      frozenRdds.remove(verticesRdd)
      throw new IllegalStateException(
        s"connected components did not converge in $rounds rounds")
    }
    // NO retire() here on success: liveRound is the FINAL round — its
    // edges feed the label join below and must stay until invalidateCaches.
    // converged: per-component stars centered on the component minimum;
    // every non-min vertex appears as (v, min). The result persists and
    // MATERIALIZES here so downstream planners see its REAL size (the
    // freeze() leaves are stats-free): the consumer's corpus←labels
    // join then broadcasts when the label table is genuinely small and
    // shuffles when it is not — the size-adaptive behavior the
    // dedup_clusters plan pin asserts at fixture scale.
    val labels = vertices
      .join(edges.select(col("a").as("u"), col("b").as("star_lbl")),
        Seq("u"), "left")
      .groupBy(col("u"))
      .agg(least(col("u"), min(col("star_lbl"))).as("lbl"))
      .persist()
    labels.count()
    retained.add(labels)
    labels
  }

  /** Converged label frames per (session key, cache key): repeat cluster
    * queries in one session must not re-run the contraction loop. The
    * frames inside are persisted via [[retained]]; this map only keys
    * them. */
  private[extensions] val componentLabelCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  private[extensions] def cachedComponents(sessionKey: String, key: String,
                                           pairs: => DataFrame): DataFrame =
    graft.CacheFill(componentLabelCache, (sessionKey, key))(
      connectedComponents(pairs))

  private def clusters(s: SparkSession, d: String): DataFrame = {
    val labels = cachedComponents(graft.SessionKeys(s), s"$d|minhash",
      minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
    Tables.documents(s, d)
      .join(labels.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  private val clustersSql =
    s"""WITH RECURSIVE pairs AS (${lshPairsSql(wordShinglesSql, 0.5)}),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT d.doc_id,
       |  CAST(coalesce(least(d.doc_id, m.lbl), d.doc_id) AS BIGINT) AS cluster_id
       |FROM documents d
       |LEFT JOIN (SELECT u, min(v) AS lbl FROM reach GROUP BY u) m
       |  ON d.doc_id = m.u
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------- embedding near-dup

  /** Near-dup vector pairs over the TRAINED IVF quantizer: each vector is
    * multi-assigned to its [[Similarity.PairProbe]] nearest centroids
    * (a both-sides expansion, so candidate volume scales np²/K —
    * near neighbors straddling a centroid boundary still share a list),
    * candidates are the centroid-id equi-join, verified with exact cosine
    * >= 0.45. Cosine uses Similarity's scaled-integer dot product and the
    * quantizer retrains identically in DuckDB, so the whole pipeline is
    * bit-identical across engines. The within-list join is bounded by the
    * bucket-balance invariant sim_ivf_buckets asserts — no O(n²) trap. */
  private def embeddingPairs(s: SparkSession, d: String): DataFrame = {
    val mp = Similarity.multiAssigned(s, d, Similarity.PairProbe)
    mp.alias("a")
      .join(mp.alias("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        Similarity.cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= 0.45)
      .distinct() // a pair can share both probed lists
      .orderBy(col("id_a"), col("id_b"))
  }

  private def embeddingPairsSql =
    s"""WITH v AS (${Similarity.scaledVecSql}),
       |${Similarity.centroidsSqlCtes},
       |mpr AS (
       |  SELECT x.vec_id, x.v, x.nrm, c.cid,
       |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |      x.nrm + c.cnrm - 2 * list_sum(list_transform(range(1, len(x.v)+1), k -> x.v[k] * c.c[k])),
       |      c.cid) AS rn
       |  FROM v x CROSS JOIN centroids c),
       |mp AS (SELECT vec_id, v, nrm, cid FROM mpr WHERE rn <= ${Similarity.PairProbe})
       |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ${Similarity.cosineSql("a", "b")} AS cos
       |FROM mp a JOIN mp b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |WHERE cos >= 0.45
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------- semantic dedup

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    * cluster the embedding space, then within each cluster drop every
    * vector that has a semantically near-identical neighbor with a
    * smaller id (keep the earliest representative). Reuses the TRAINED
    * k-means quantizer ([[Similarity.centroids]]), so clustering costs
    * nothing extra and the DuckDB oracle retrains it bit-identically.
    * The paper's core trade is exactly this shape: pairwise work only
    * WITHIN clusters — O(Σ cluster²) bounded by the bucket-balance
    * invariant sim_ivf_buckets asserts — never O(n²) across the corpus.
    * Single-assignment (not probe-expanded) is the paper's semantics:
    * a boundary-straddling pair is the recall loss SemDeDup accepts. */
  private val SemThreshold = 0.45 // same planted near-dup bar as embeddingPairs

  private def semPairs(s: SparkSession, d: String): DataFrame = {
    val a = Similarity.assigned(s, d)
    a.alias("a")
      .join(a.alias("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cid").as("cid"),
        col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        Similarity.cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= SemThreshold)
  }

  private def semDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id_b")).orderBy(col("id_a"))
    semPairs(s, d).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cid"), col("id_b").as("removed_id"),
        col("id_a").as("kept_id"), col("cos"))
      .orderBy(col("removed_id"))
  }

  /** Shared CTE prefix: centroids + single-assignment + within-cluster
    * near-dup pairs. */
  private def semPairsSqlCtes =
    s"""v AS (${Similarity.scaledVecSql}),
       |${Similarity.centroidsSqlCtes},
       |asg AS (
       |  SELECT vec_id, v, nrm, cid FROM (
       |    SELECT x.vec_id, x.v, x.nrm, c.cid,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        x.nrm + c.cnrm - 2 * list_sum(list_transform(range(1, len(x.v)+1), k -> x.v[k] * c.c[k])),
       |        c.cid) AS rn
       |    FROM v x CROSS JOIN centroids c)
       |  WHERE rn = 1),
       |pairs AS (
       |  SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${Similarity.cosineSql("a", "b")} AS cos
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${Similarity.cosineSql("a", "b")} >= $SemThreshold)""".stripMargin

  private def semDedupSql =
    s"""WITH $semPairsSqlCtes
       |SELECT cid, id_b AS removed_id, id_a AS kept_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
       |  FROM pairs)
       |WHERE rn = 1 ORDER BY removed_id""".stripMargin

  /** Per-cluster dedup report: corpus size, removed count, survivor
    * count — the summary a pipeline publishes after a SemDeDup pass. */
  private def semSummary(s: SparkSession, d: String): DataFrame = {
    val removed = semDedup(s, d).select(col("removed_id"))
    Similarity.assigned(s, d)
      .join(removed, col("vec_id") === col("removed_id"), "left")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("removed_id").isNotNull, 1L).otherwise(0L)).as("n_removed"))
      .select(col("cid"), col("n_vecs"), col("n_removed"),
        (col("n_vecs") - col("n_removed")).as("n_kept"))
      .orderBy(col("cid"))
  }

  private def semSummarySql =
    s"""WITH $semPairsSqlCtes,
       |removed AS (SELECT DISTINCT id_b AS removed_id FROM pairs)
       |SELECT a.cid, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN r.removed_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CAST(count(*) - sum(CASE WHEN r.removed_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM asg a LEFT JOIN removed r ON a.vec_id = r.removed_id
       |GROUP BY a.cid ORDER BY a.cid""".stripMargin

  // ------------------------------------------- duplicate-span detection

  /** Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * public paper), at the K-token-window granularity a distributed
    * engine can shuffle: hash every K-token window with the replayable
    * [[graft.functions.PolyHash]]; a window whose hash occurs >= 2 times
    * corpus-wide is duplicated; per doc, overlapping/adjacent duplicated
    * windows merge into maximal spans (gap-and-island over positions).
    *
    * The paper's suffix array finds arbitrary-length repeats but does
    * not distribute; the window grid finds every repeat of length >= K
    * (any such repeat contains a duplicated window at each of its
    * offsets) with O(tokens) hash rows and two key-partitioned
    * shuffles — a corpus-wide occurrence count as a window function over
    * ONE evaluation of the explode (partition by window hash), then
    * island-merge by doc. That is
    * the shape that survives 100 TB. Span semantics are defined on
    * poly_hash equality, so both engines are bit-identical by
    * construction; at production scale swap in a 128-bit hash to make
    * collisions negligible rather than merely engine-consistent.
    *
    * Reference context: philotes has no substring-level dedup at all
    * (its dup surface is row-identity GROUP BY,
    * docs/query/sample-queries.sql:166-169); this extends the dedup
    * family below content-granularity.
    */
  private val SpanK = 8

  /** Session conf selecting the window-hash width: `poly32` (default —
    * the ~32-bit [[graft.functions.PolyHash]], replayable bit-for-bit in
    * the DuckDB oracle) or `wide64` (full-64-bit xxhash64 of the window
    * string: at 2^32 windows the birthday collision odds drop from
    * near-certain to ~2^-1, and per-pair from ~2^-32 to ~2^-64 — the
    * production-scale setting the ADVICE asked to make actionable). */
  private[extensions] val SpanHashConf = "graft.dedup.spanHash"

  /** (doc_id, pos, wh) of every K-token window in the corpus. */
  private def windowFrame(s: SparkSession, d: String): DataFrame = {
    val wide = s.conf.get(SpanHashConf, "poly32") == "wide64"
    val toks = TextAnalysis.tokens(col("text"))
    // poly32 hashes come from the one-pass codegen'd TokenWindowHashes
    // kernel (bit-identical to poly_hash of the joined window string —
    // spec-pinned); the wide64 mode keeps the declarative
    // xxhash64-of-window-string form, the price of the wider hash. No
    // truncated tail windows either way: a doc shorter than K tokens
    // contributes nothing (a partial window is not a K-token repeat).
    val winHashes = when(size(toks) >= SpanK,
      if (wide)
        transform(sequence(lit(0), size(toks) - SpanK),
          i => xxhash64(concat_ws(" ", slice(toks, i + lit(1), lit(SpanK)))))
      else graft.functions.TokenWindowHashes(col("text"), SpanK))
      .otherwise(array().cast("array<bigint>"))
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(winHashes).as(Seq("pos", "wh")))
  }

  /** Occurrences of corpus-wide repeated hashes, from a PINNED window
    * frame: groupBy(wh) + semi-join-back, NOT count().over(Window
    * .partitionBy(wh)) — a hot boilerplate hash (the operator's whole
    * point is that boilerplate repeats) would gather its entire row
    * set into ONE unsplittable window task, while the groupBy
    * partial-aggregates map-side and the semi-join is skew-splittable
    * by AQE. The caller persists `wins` so the O(tokens) tokenize +
    * window-hash explode still runs ONCE per session (the r16 concern
    * with join-back); at 100 TB that pin is MEMORY_AND_DISK — or a
    * recompute, a storage-level knob, not a plan change. */
  private def dupOccurrences(wins: DataFrame): DataFrame = {
    val dupHashes = wins.groupBy(col("wh"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("wh"))
    wins.join(dupHashes, Seq("wh"), "left_semi")
      .select(col("doc_id"), col("pos"))
  }

  /** Both span queries (per-doc and corpus summary) consume the same
    * merged-island frame; persist it once per (session, dir) so the
    * O(tokens) window-hash explode runs once across the pair. */
  private val spanIslandCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]

  /** Maximal duplicated spans per doc: islands over window positions —
    * a window starting within K of the previous one overlaps or abuts
    * its interval, so they fuse into one span. */
  private def dupSpanIslands(s: SparkSession, d: String): DataFrame =
    graft.CacheFill(spanIslandCache,
      (graft.SessionKeys(s), d, s.conf.get(SpanHashConf, "poly32")))(
      dupSpanIslandsUncached(s, d))

  /** Island merge over a window frame — lazy plan, shared by the eager
    * build below and the spec's Window-key plan pin. */
  private[extensions] def islandsOf(wins: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupOccurrences(wins)
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= SpanK, 0).otherwise(1))
      .withColumn("g", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(SpanK - 1)).as("e"))
  }

  /** The span-island plan with no persists — the spec pins its shape. */
  private[extensions] def spanIslandPlan(s: SparkSession, d: String): DataFrame =
    islandsOf(windowFrame(s, d))

  /** Returns the island frame already persisted AND materialized: the
    * window frame is pinned only for the duration of this build (both
    * the repeat-hash aggregate and the semi-join probe read it), then
    * released — eager so the temporary pin has a bounded lifetime. */
  private def dupSpanIslandsUncached(s: SparkSession, d: String): DataFrame = {
    val wins = windowFrame(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val islands = islandsOf(wins).persist()
    islands.count()
    wins.unpersist()
    islands
  }

  private def dupSpans(s: SparkSession, d: String): DataFrame = {
    val perDoc = dupSpanIslands(s, d)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
    val sizes = Tables.documents(s, d)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    perDoc.join(sizes, "doc_id")
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 4).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB window hash: [[Signatures.polyHash]] over the joined window
    * string (same construction as [[polyHashSql]], inlined for a computed
    * string rather than a lambda variable). */
  private def spanWindowHashSql(winExpr: String) =
    s"""list_reduce(list_transform(range(1, len($winExpr)+1),
       |        j -> CAST(unicode(substr($winExpr, j, 1)) AS BIGINT)),
       |        (a, b) -> (a * ${Signatures.PolyB} + b) % ${Signatures.MinhashP})""".stripMargin

  /** Shared CTE prefix: window occurrences → duplicated hashes → merged
    * spans (same gap-and-island as the Spark plan). */
  private val dupSpanCtesSql = {
    val win = s"array_to_string(t[i+1:i+$SpanK], ' ')"
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |wins AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(0, greatest(len(t)-${SpanK - 1}, 0)), i -> i)) AS pos,
       |    unnest(list_transform(range(0, greatest(len(t)-${SpanK - 1}, 0)),
       |      i -> ${spanWindowHashSql(win)})) AS wh
       |  FROM toks),
       |dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) >= 2),
       |occ AS (SELECT wins.doc_id, wins.pos FROM wins JOIN dup USING (wh)),
       |brk AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $SpanK
       |         THEN 0 ELSE 1 END AS b
       |  FROM occ),
       |isl AS (SELECT doc_id, pos, sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk),
       |spans AS (SELECT doc_id, g, min(pos) AS s, max(pos)+${SpanK - 1} AS e
       |          FROM isl GROUP BY doc_id, g)""".stripMargin
  }

  private val dupSpansSql =
    s"""$dupSpanCtesSql
       |SELECT sp.doc_id, sp.n_spans, sp.dup_tokens, sz.n_tokens,
       |  round(CAST(sp.dup_tokens AS DOUBLE) / sz.n_tokens, 4) AS dup_ratio
       |FROM (SELECT doc_id, count(*) AS n_spans,
       |        CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
       |      FROM spans GROUP BY doc_id) sp
       |JOIN (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
       |      FROM documents) sz USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Corpus-level report: how much of the corpus is duplicated text —
    * the number a curation pipeline publishes after a dedup pass. */
  private def dupSpanSummary(s: SparkSession, d: String): DataFrame = {
    val spanAgg = dupSpanIslands(s, d).agg(
      countDistinct(col("doc_id")).as("n_docs_with_dups"),
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s") + 1).as("dup_tokens"))
    val total = Tables.documents(s, d)
      .agg(sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("total_tokens"))
    spanAgg.crossJoin(total)
      .select(col("n_docs_with_dups"), col("n_spans"), col("dup_tokens"),
        col("total_tokens"),
        round(col("dup_tokens").cast("double") / col("total_tokens"), 4).as("dup_ratio"))
  }

  private val dupSpanSummarySql =
    s"""$dupSpanCtesSql
       |SELECT (SELECT count(DISTINCT doc_id) FROM spans) AS n_docs_with_dups,
       |  (SELECT count(*) FROM spans) AS n_spans,
       |  (SELECT CAST(sum(e - s + 1) AS BIGINT) FROM spans) AS dup_tokens,
       |  (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) FROM documents) AS total_tokens,
       |  round(CAST((SELECT sum(e - s + 1) FROM spans) AS DOUBLE) /
       |        (SELECT sum(len(string_split(text, ' '))) FROM documents), 4) AS dup_ratio""".stripMargin

  override def all: Seq[GraftQuery] = Seq(
    GraftQuery("dedup_dup_spans", dupSpans, Some(dupSpansSql)),
    GraftQuery("dedup_dup_span_summary", dupSpanSummary, Some(dupSpanSummarySql)),
    GraftQuery("dedup_semantic", semDedup, Some(semDedupSql)),
    GraftQuery("dedup_semantic_summary", semSummary, Some(semSummarySql)),
    GraftQuery("dedup_exact_groups", exactGroups, Some(exactGroupsSql)),
    GraftQuery("dedup_bloom_prefilter", bloomPrefilter,
      Some(bloomPrefilterSql)),
    GraftQuery("dedup_exact_summary", exactSummary, Some(exactSummarySql)),
    GraftQuery("dedup_minhash_pairs", minhashPairs, Some(lshPairsSql(wordShinglesSql, 0.5))),
    GraftQuery("dedup_minhash_survivors", minhashSurvivors, Some(minhashSurvivorsSql)),
    GraftQuery("dedup_incremental", incrementalDedup, Some(incrementalDedupSql)),
    GraftQuery("dedup_log_incremental", logIncremental, Some(logIncrementalSql)),
    GraftQuery("dedup_ngram_pairs", ngramPairs,
      Some(lshPairsSql(charNgramsSql(NgramN), 0.6, NgramBandRows, polyHashSql))),
    GraftQuery("dedup_simhash_pairs", simhashPairs, Some(simhashPairsSql)),
    GraftQuery("dedup_clusters", clusters, Some(clustersSql)),
    GraftQuery("dedup_jaccard_est", jaccardEst, Some(jaccardEstSql)),
    GraftQuery("dedup_exact_jaccard_join", exactJaccardPairs,
      Some(exactJaccardPairsSql)),
    GraftQuery("dedup_lsh_recall", lshRecall, Some(lshRecallSql)),
    GraftQuery("dedup_embedding_pairs", embeddingPairs, Some(embeddingPairsSql)),
  )
}
