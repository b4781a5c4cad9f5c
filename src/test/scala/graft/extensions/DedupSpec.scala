package graft.extensions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Dedup signature semantics: pure-kernel expectations plus a cross-check
  * that the JVM kernels ([[Signatures]]) agree with the declarative
  * column expressions whose semantics the DuckDB oracles mirror. */
class DedupSpec extends SparkTestBase {

  test("word shingles: 3-grams, distinct, degenerate short docs") {
    val sh = Signatures.wordShingles("the quick brown fox jumps over the lazy dog")
    assert(sh.head === "the quick brown")
    assert(sh.contains("over the lazy"))
    assert(sh.length === 7) // 9 tokens -> 7 shingles, all distinct here
    assert(Signatures.wordShingles("one two") === Seq("one two"))
    assert(Signatures.wordShingles("one") === Seq("one"))
  }

  test("char n-grams: distinct, truncated tail handled like substr()") {
    assert(Signatures.charNgrams("abcd", 3) === Seq("abc", "bcd"))
    assert(Signatures.charNgrams("ab", 3) === Seq("ab"))
    assert(Signatures.charNgrams("abcdef", 5) === Seq("abcde", "bcdef"))
  }

  test("JVM kernels match the declarative expression semantics") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf0001).limit(50)
    val viaExpr = docs.select(col("doc_id"), Dedup.wordShingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val viaJvm = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => id -> Signatures.wordShingles(t) }.toMap
    assert(viaExpr === viaJvm)
  }

  test("char-ngram fast kernel matches the definitional shingle+hash path") {
    val texts = Seq("", "ab", "abcde", "the quick brown fox jumps", "aaaaaaaaaa")
    for (t <- texts) {
      val (hset, mh) = Signatures.charNgramSig(t, 5, 8)
      val defSet = Signatures.distinctSorted(
        Signatures.charNgrams(t, 5).map(Signatures.polyHash).toArray)
      assert(hset === defSet, s"hash set for '$t'")
      val defMins = (0 until 8).map { j =>
        defSet.map(h => (Signatures.MinhashA(j) * h + Signatures.MinhashB(j))
          % Signatures.MinhashP).min
      }
      assert(mh === defMins, s"minhash for '$t'")
    }
  }

  test("minhash signature is deterministic, identical text -> identical sig") {
    val a = Signatures.minhash(Signatures.wordShingles("a b c d e f"), 8)
    val b = Signatures.minhash(Signatures.wordShingles("a b c d e f"), 8)
    assert(a === b && a.length === 8)
    assert(a.forall(v => v >= 0 && v < Signatures.MinhashP))
    assert(Signatures.bandKeys(a).length === 4)
  }

  test("simhash: identical docs collide, near-dups closer than strangers") {
    def sh(t: String) = Signatures.simhash32(Signatures.wordShingles(t))
    val d0 = sh("the quick brown fox jumps over the lazy dog")
    val d1 = sh("the quick brown fox jumps over the lazy cat")
    val d2 = sh("completely different content about spark engines and lakes")
    val d3 = sh("the quick brown fox jumps over the lazy dog")
    assert(d0 === d3)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(d0, d1) < ham(d0, d2))
    assert(Seq(d0, d1, d2).forall(v => v >= 0 && v < (1L << 32)))
  }

  test("incremental dedup equals the cross-slice restriction of the pair set") {
    // same bands, same verify threshold — the new-vs-corpus matches must
    // be EXACTLY the full pair set restricted to pairs spanning the slice
    import graft.SparkEntry
    import spark.implicits._
    val slice = 7L
    val pairs = SparkEntry.queries("dedup_minhash_pairs")(spark, sf0001)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val expected = pairs.flatMap { case (a, b) =>
      (a % 10 == slice, b % 10 == slice) match {
        case (true, false) => Some(a)
        case (false, true) => Some(b)
        case _ => None
      }
    }.groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
    val got = SparkEntry.queries("dedup_incremental")(spark, sf0001)
      .select($"doc_new", $"n_matches").as[(Long, Long)].collect().toMap
    assert(got === expected)
  }

  test("duplicate spans: islands reconstruct brute-force window coverage") {
    import graft.SparkEntry
    import spark.implicits._
    val K = 8
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // brute force: window hashes, corpus-duplicated hashes, per-doc
    // union of [pos, pos+K-1] intervals merged into maximal spans
    val wins = docs.flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      if (toks.length < K) Array.empty[(Long, Int, Long)]
      else (0 to toks.length - K).map(i =>
        (id, i, Signatures.polyHash(toks.slice(i, i + K).mkString(" ")))).toArray
    }
    val dupHashes = wins.groupBy(_._3).filter(_._2.length >= 2).keySet
    val expected = wins.filter(w => dupHashes.contains(w._3))
      .groupBy(_._1).map { case (id, occ) =>
        val pos = occ.map(_._2).distinct.sorted
        val spans = pos.tail.foldLeft(List((pos.head, pos.head + K - 1))) {
          case ((s, e) :: rest, p) =>
            if (p <= e + 1) (s, math.max(e, p + K - 1)) :: rest
            else (p, p + K - 1) :: (s, e) :: rest
          case (Nil, _) => sys.error("unreachable")
        }
        id -> (spans.length.toLong, spans.map { case (s, e) => e - s + 1 }.sum.toLong)
      }
    val got = SparkEntry.queries("dedup_dup_spans")(spark, sf0001)
      .select($"doc_id", $"n_spans", $"dup_tokens").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === expected)
    assert(got.nonEmpty, "fixture should contain duplicated spans")
    // an exact-duplicate doc with >= K tokens is one span covering it all
    val fullDups = docs.groupBy(_._2).values.filter(_.length >= 2)
      .flatMap(_.map(_._1)).toSet
    val ratios = SparkEntry.queries("dedup_dup_spans")(spark, sf0001)
      .select($"doc_id", $"dup_ratio").as[(Long, Double)].collect().toMap
    for (id <- fullDups if docs.find(_._1 == id).get._2.split(" ", -1).length >= K)
      assert(ratios(id) === 1.0, s"exact-dup doc $id should be fully covered")
    // summary agrees with the per-doc view it aggregates
    val sums = SparkEntry.queries("dedup_dup_span_summary")(spark, sf0001)
      .select($"n_docs_with_dups", $"n_spans", $"dup_tokens")
      .as[(Long, Long, Long)].collect().head
    assert(sums._1 === got.size.toLong)
    assert(sums._2 === got.values.map(_._1).sum)
    assert(sums._3 === got.values.map(_._2).sum)
  }

  test("wide64 span hash yields the same spans as poly32 on the fixture") {
    import graft.SparkEntry
    import spark.implicits._
    def spans() = SparkEntry.queries("dedup_dup_spans")(spark, sf0001)
      .select($"doc_id", $"n_spans", $"dup_tokens", $"dup_ratio")
      .as[(Long, Long, Long, Double)].collect().toSet
    val poly = spans()
    // the production-scale hash must change only collision odds, not
    // semantics: on a corpus small enough that poly32 is collision-free,
    // both widths find the identical span set
    spark.conf.set(Dedup.SpanHashConf, "wide64")
    try assert(spans() === poly)
    finally spark.conf.unset(Dedup.SpanHashConf)
  }

  test("exact jaccard join: prefix filtering is COMPLETE against an independent brute force; candidates come from an equi-join") {
    val df = graft.SparkEntry.queries("dedup_exact_jaccard_join")(spark, sf0001)
    val got = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // independent O(n²) truth via the JVM kernels — feasible at the
    // fixture's 500 docs, never in the operator itself
    val sets = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        Signatures.hashedSet(Signatures.wordShingles(r.getString(1))).toSet)
      .sortBy(_._1)
    val truth = (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      inter = (sets(i)._2 & sets(j)._2).size
      jac = inter.toDouble /
        (sets(i)._2.size + sets(j)._2.size - inter)
      if BigDecimal(jac).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.5
    } yield (sets(i)._1, sets(j)._1)).toSet
    assert(got === truth, s"prefix filter missed ${truth -- got} / invented ${got -- truth}")
    assert(truth.nonEmpty) // the fixture plants near-dups
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // LSH recall against this exact truth is 1.0 on the fixture (the
    // planted dups sit far above the threshold)
    val rec = graft.SparkEntry.queries("dedup_lsh_recall")(spark, sf0001)
      .collect()(0)
    assert(rec.getAs[Long]("n_exact") === truth.size.toLong)
    assert(rec.getAs[Double]("recall") === 1.0)
  }

  test("rare-first prefixes shrink the candidate mass on the real corpus") {
    // replay BOTH prefix orders over the corpus' hashed shingle sets and
    // compare the equi-join work each implies: sum over shingle h of
    // C(|docs with h in prefix|, 2)
    val t = 0.5 - 1e-4 // SSJoinPrefixT
    def prefLen(sz: Int): Int = sz - math.ceil(sz * t).toInt + 1
    val sets = graft.Tables.documents(spark, sf0001)
      .select(col("text")).collect()
      .map(r => Signatures.hashedSet(Signatures.wordShingles(r.getString(0))).toVector)
      .filter(_.nonEmpty)
    val freq = sets.flatten.groupBy(identity).map { case (h, o) => (h, o.length) }
    def mass(order: Vector[Long] => Vector[Long]): Long =
      sets.flatMap(s => order(s).take(prefLen(s.length)))
        .groupBy(identity).values
        .map(o => o.length.toLong * (o.length - 1) / 2).sum
    val hashMass = mass(_.sorted)
    val freqMass = mass(_.sortBy(h => (freq(h), h)))
    assert(freqMass < hashMass,
      s"rare-first prefixes must shrink candidates: $freqMass vs $hashMass")
    assert(freqMass.toDouble / hashMass <= 0.8,
      s"expected >=20% candidate drop, got $freqMass / $hashMass")
  }

  test("rare-first prefixes: a planted hot shingle stays out of the join") {
    // skew stress: every doc shares ONE hot shingle whose hash sorts
    // FIRST by value — the worst case for hash-ordered prefixes (the hot
    // key enters every prefix and the equi-join bucket goes quadratic).
    // Under ascending-frequency order it sorts LAST and enters none.
    val t = 0.5 - 1e-4
    def prefLen(sz: Int): Int = sz - math.ceil(sz * t).toInt + 1
    val hot = Long.MinValue
    val docs = (0 until 200).map(i =>
      ((1 to 20).map(k => (i * 100 + k).toLong) :+ hot).toVector)
    val freq = docs.flatten.groupBy(identity).map { case (h, o) => (h, o.length) }
    def mass(order: Vector[Long] => Vector[Long]): Long =
      docs.flatMap(s => order(s).take(prefLen(s.length)))
        .groupBy(identity).values
        .map(o => o.length.toLong * (o.length - 1) / 2).sum
    assert(mass(_.sorted) === 200L * 199 / 2) // hot key in EVERY hash prefix
    assert(mass(_.sortBy(h => (freq(h), h))) === 0L) // and in NO rare-first one
    // exactness is unthreatened: no pair reaches J >= t (share 1 of 41),
    // so the empty candidate set IS the correct answer here
    assert(docs.combinations(2).forall { case Seq(a, b) =>
      (a.toSet & b.toSet).size.toDouble / (a.toSet | b.toSet).size < t })
  }

  test("connected components converge on a long chain in O(log diameter) rounds") {
    // A path graph is the worst case for plain neighbor-min label
    // propagation (rounds = diameter); perceptual-hash near-dup graphs
    // produce exactly these chains (hashes drifting a bit per step).
    // Pointer jumping must converge a 3000-node chain well inside the
    // round cap and still land every node on the component minimum.
    // Ids are permuted so the minimum sits at a random chain position.
    import spark.implicits._
    val n = 3000
    val perm = new scala.util.Random(11).shuffle((0 until n).toVector)
    val pairs = (0 until n - 1)
      .map(i => (perm(i).toLong, perm(i + 1).toLong)).toDF("a", "b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels.size === n)
    assert(labels.values.forall(_ === 0L), "every node labels to the chain min")
    // and two disjoint chains stay distinct components
    val two = ((0 until 50).map(i => (i.toLong, i + 1L)) ++
      (100 until 150).map(i => (i.toLong, i + 1L))).toDF("a", "b")
    val twoLbl = Dedup.connectedComponents(two).as[(Long, Long)].collect().toMap
    assert((0 to 50).forall(i => twoLbl(i.toLong) === 0L))
    assert((100 to 150).forall(i => twoLbl(i.toLong) === 100L))
  }

  test("non-convergence at the round cap throws — never silent wrong labels") {
    // The guard this pins was once deleted by a refactor and nothing
    // noticed, because the fixtures converge well inside the default
    // cap: labels computed from a non-fixpoint edge set are
    // neighborhood minima, not component minima — a silently WRONG
    // answer. The cap is injectable exactly so this test can force it.
    import spark.implicits._
    val n = 300
    val perm = new scala.util.Random(17).shuffle((0 until n).toVector)
    val pairs = (0 until n - 1)
      .map(i => (perm(i).toLong, perm(i + 1).toLong)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge in 1 rounds"))
    // the same graph converges exactly under the default cap — the
    // forced cap is the ONLY thing the intercept above relies on
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels.size === n && labels.values.forall(_ === 0L))
  }

  test("contraction under a hot vertex (~12% of all pairs) stays exact") {
    // Near-dup graphs skew: one template page pairs with a large slice
    // of the corpus. The star joins key on vertex ids, so a hot vertex
    // is a hot join key — the rounds must still converge to the exact
    // per-component minima (the joins are plain shuffled equi-joins
    // AQE can skew-split; nothing in the loop windows or buffers a
    // neighborhood in one task). Truth via driver-side union-find.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val star = (1 to 250).map(i => (0L, i.toLong))
    val chains = (0 until 4).flatMap { c =>
      val base = 1000L * (c + 1)
      (0 until 450).map(i => (base + i, base + i + 1L))
    }
    val all = rnd.shuffle(star ++ chains)
    val labels = Dedup.connectedComponents(all.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    all.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(v => v -> find(v)).toMap
    assert(labels === truth)
  }

  test("invalidate racing an in-flight cluster query fails loud or exact, and leaves no debris") {
    // invalidateCaches' documented contract: racing an in-flight
    // cluster query may FAIL that query (the contraction rounds are
    // lineage-truncated local checkpoints — unpersisted blocks cannot
    // recompute) but must never let it return silently wrong labels;
    // and after the dust settles a full invalidate leaves no persisted
    // debris and a fresh run is exact.
    import spark.implicits._
    graft.EngineCaches.invalidateAll()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val n = 4000
    val perm = new scala.util.Random(23).shuffle((0 until n).toVector)
    val pairs = (0 until n - 1)
      .map(i => (perm(i).toLong, perm(i + 1).toLong)).toDF("a", "b")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val raced = Future {
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    }
    Thread.sleep(1500) // land inside the contraction loop
    // the RAW module invalidate, deliberately: EngineCaches.invalidateAll
    // quiesces (waits for active jobs) and would never actually race
    Dedup.invalidateCaches()
    try {
      scala.util.Try(Await.result(raced, Duration(600, "s"))) match {
        case scala.util.Success(labels) =>
          assert(labels.size === n && labels.values.forall(_ === 0L),
            "a raced run that completes must still be exact")
        case scala.util.Failure(_) => // loud is the documented contract
      }
    } finally {
      // a failed exactness assert must leak neither the thread nor the
      // raced run's persists into the suite
      pool.shutdown()
      graft.EngineCaches.invalidateAll()
    }
    val debris = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(debris.isEmpty, s"cluster debris survived invalidate: $debris")
    // and the engine recovers: a fresh run is exact
    val fresh = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(fresh.size === n && fresh.values.forall(_ === 0L))
    graft.EngineCaches.invalidateAll()
  }

  test("corpus-hash frequency stages plan with NO Window keyed on h/wh") {
    // The skew half of the prefix-filter story: the frequency ORDER
    // keeps a hot shingle out of every prefix, but COMPUTING that
    // frequency (and the repeated-window-hash filter in dedup_dup_spans)
    // must not itself gather the hot key into one task. A Window
    // partitioned by the corpus hash buffers the whole hot partition in
    // ONE task that AQE cannot split; the groupBy+join-back formulation
    // partial-aggregates map-side and leaves a skew-splittable join.
    // Pin: no Window node keyed on the corpus hash in either plan.
    // Earlier tests populate pairsCache/spanIslandCache with these very
    // plans; Spark's cache replacement would then swallow the whole
    // fresh plan into one InMemoryRelation and the pin would match
    // nothing — drop the caches so the real operator tree is visible.
    graft.EngineCaches.invalidateAll()
    def corpusKeyedWindows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.references.exists(a =>
            a.name == "h" || a.name == "wh")) => w
      }
    val jac = Dedup.exactJaccardPairsUncached(spark, sf0001)
    assert(corpusKeyedWindows(jac).isEmpty,
      "exact-jaccard frequency rank must not window by shingle hash")
    val spans = Dedup.spanIslandPlan(spark, sf0001)
    assert(corpusKeyedWindows(spans).isEmpty,
      "dup-span occurrence filter must not window by window hash")
    // guard the pin itself: the per-doc windows (rank / island breaks)
    // are still Window nodes — the collect isn't trivially empty
    def docKeyedWindows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.references.exists(_.name == "doc_id")) => w
      }
    assert(docKeyedWindows(jac).nonEmpty && docKeyedWindows(spans).nonEmpty)
  }

  test("bloom prefilter: sketch admits no false negatives, verify join kills its false positives, corpus side never shuffles") {
    import org.apache.spark.sql.GraftBridge
    val docs = graft.Tables.documents(spark, sf0001)
    val fp = graft.functions.PolyHash(col("text"))
    val corpus = docs.select(col("doc_id"), fp.as("fp"))
    // the operator's own synthetic batch: %5==0 members, %5==1 edited
    val members = docs.where(col("doc_id") % 5 === 0).count()
    val nonMembers = docs.where(col("doc_id") % 5 === 1).count()
    val bloom = corpus
      .agg(GraftBridge.bloomAggregate(col("fp"), docs.count()).as("bf"))
      .head().getAs[Array[Byte]](0)
    // no-FN contract: EVERY corpus fingerprint probes positive
    val fn = corpus.where(!GraftBridge.bloomMightContain(lit(bloom), col("fp")))
      .count()
    assert(fn === 0L, "bloom filter reported a false negative")
    val df = graft.SparkEntry.queries("dedup_bloom_prefilter")(spark, sf0001)
    val out = df.collect()
    // exactly the members survive the full pipeline (FPs verified away);
    // an edited doc may only appear via a genuine fingerprint collision,
    // in which case the oracle sees the identical collision
    assert(out.length === members.toInt,
      s"expected $members true dups (of ${members + nonMembers} batch rows)")
    assert(out.forall(r => r.getAs[Long]("new_id") < 2000000L))
    // plan: the verify join must broadcast the prefiltered batch — the
    // corpus (the 100 TB side) neither shuffles nor sort-merges
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    assert(plan.contains("might_contain"),
      s"batch scan not bloom-prefiltered:\n${plan.take(2000)}")
  }
}
