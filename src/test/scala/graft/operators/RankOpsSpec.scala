package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic gates for the lexical ranking + LM-scoring operators (the
  * DuckDB oracles pin exact values; these pin the RANKING behavior a
  * hash-diff can't explain when it breaks). */
class RankOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("tfidf ranks a document's distinctive term above ubiquitous ones") {
    val d = docs(
      1L -> "alpha beta common common",
      2L -> "gamma beta common common",
      3L -> "delta common common common")
    val top = RankOps.tfidfTopK(d, "text", "doc_id", k = 1)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    // 'common' appears in every doc -> idf = ln(1) = 0; the unique term
    // wins every document.
    assert(top == Map(1L -> "alpha", 2L -> "gamma", 3L -> "delta"))
  }

  test("tfidf top-k is deterministic under score ties (token tiebreak)") {
    val d = docs(1L -> "zz aa common", 2L -> "aa zz common", 3L -> "common x")
    // 'aa' and 'zz' both appear in docs 1-2 with identical tf/df -> equal
    // scores; rank 1 must be the lexicographically smaller token.
    val r = RankOps.tfidfTopK(d, "text", "doc_id", k = 2)
      .filter($"doc_id" === 1L).orderBy($"rn")
      .select("token").as[String].collect().toSeq
    assert(r == Seq("aa", "zz"))
  }

  test("bm25 scores a doc matching more query terms higher, caps at topN") {
    val d = docs(
      1L -> "scan merge window pad pad",
      2L -> "scan pad pad pad pad",
      3L -> "pad pad pad pad pad",
      4L -> "scan merge pad pad pad")
    val r = RankOps.bm25(d, "text", "doc_id", Seq("scan", "merge", "window"), topN = 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(r == Seq(1L, 4L), s"three-term > two-term > one-term match: $r")
    // Doc 3 matches nothing: absent even with a generous topN.
    val all = RankOps.bm25(d, "text", "doc_id", Seq("scan", "merge", "window"), topN = 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(all == Seq(1L, 4L, 2L) && !all.contains(3L))
  }

  test("bm25 term-frequency saturates (k1) instead of growing linearly") {
    val d = docs(
      1L -> "scan scan scan scan scan scan scan scan pad pad",
      2L -> "scan pad pad pad pad pad pad pad pad pad",
      3L -> "pad pad pad pad pad pad pad pad pad pad")
    val scores = RankOps.bm25(d, "text", "doc_id", Seq("scan"), topN = 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    // 8x the tf must score higher but NOWHERE NEAR 8x (k1=1.2 saturation:
    // bounded by (k1+1)/1 over the tf->inf limit).
    assert(scores(1L) > scores(2L))
    assert(scores(1L) < 3.0 * scores(2L), s"saturation violated: $scores")
  }

  test("bigram LM: boilerplate scores lower nll than a novel word order") {
    val boiler = "the quick brown fox jumps"
    val rows = (1L to 9L).map(i => i -> boiler) :+ (10L -> "fox the jumps quick brown")
    val r = RankOps.bigramLmScore(rows.toDF("doc_id", "text"), "text", "doc_id")
      .select("doc_id", "nll").as[(Long, Double)].collect().toMap
    // Doc 10's bigrams each occur once (smoothed near-zero prob); the
    // repeated template's bigrams occur 9-10x.
    assert(r(1L) < r(10L), s"template must be more probable: $r")
    assert(r.size == 10)
  }

  test("PMI ranks an exclusive collocation above a chance co-occurrence") {
    // 'hong kong' always co-occur exclusively; 'the cat'/'the dog' share
    // 'the' so each pair's association is diluted.
    val d = docs((1L to 10L).map(i =>
      i -> "hong kong visit the cat saw the dog"): _*)
    val r = RankOps.pmiCollocations(d, "text", minCount = 5, topN = 10)
      .select("bigram", "pmi").as[(String, Double)].collect()
    // All exclusive pairs tie on PMI and break on the bigram name — the
    // determinism contract, pinned exactly.
    assert(r.take(3).map(_._1).toSeq == Seq("cat saw", "hong kong", "kong visit"), r.toSeq)
    val byName = r.toMap
    assert(byName("hong kong") > byName("the cat"),
      s"shared 'the' must dilute: $byName")
    // minCount kills a rare pair: with only 4 instances it cannot appear.
    val sparse = docs((1L to 4L).map(i => i -> "rare pair"): _*)
    assert(RankOps.pmiCollocations(sparse, "text", minCount = 5, topN = 10)
      .count() == 0L)
  }

  test("bigram LM excludes documents with no bigrams") {
    val d = docs(1L -> "solo", 2L -> "", 3L -> "two tokens")
    val r = RankOps.bigramLmScore(d, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(r == Seq(3L))
  }

  test("conjunctive bm25 admits only all-terms documents; scores match bm25") {
    val d = docs(
      1L -> "scan merge window pad pad",   // all three -> admitted
      2L -> "scan scan scan scan scan",    // drowning in one term -> OUT
      3L -> "scan merge pad pad pad",      // missing 'window' -> OUT
      4L -> "window merge scan scan pad")  // all three -> admitted
    val terms = Seq("scan", "merge", "window")
    val conj = RankOps.conjunctiveBm25(d, "text", "doc_id", terms, topN = 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(conj.keySet == Set(1L, 4L), conj)
    // The admitted docs' scores are EXACTLY their bag-of-terms bm25
    // scores (the gate filters, never rescales).
    val bag = RankOps.bm25(d, "text", "doc_id", terms, topN = 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(conj.forall { case (k, v) => bag(k) == v }, s"$conj vs $bag")
    // A duplicated query term must not break the |terms| gate.
    val dup = RankOps.conjunctiveBm25(d, "text", "doc_id",
      Seq("scan", "scan", "merge", "window"), topN = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(dup == Set(1L, 4L))
  }

  test("bm25Batch: each query's slice equals the per-query bm25 run") {
    val d = docs(
      1L -> "alpha beta gamma delta",
      2L -> "beta beta beta gamma",
      3L -> "alpha alpha delta",
      4L -> "gamma delta epsilon",
      5L -> "epsilon epsilon alpha beta")
    val qs = Seq(
      (10L, "alpha"), (10L, "beta"),
      (20L, "gamma"),
      (30L, "beta"), (30L, "delta"), (30L, "epsilon"),
      // Repeated pair: set semantics, must not double-score.
      (30L, "beta"),
      // A term absent from the corpus contributes nothing.
      (40L, "zeta"))
      .toDF("query_id", "term")
    val got = RankOps.bm25Batch(d, "text", "doc_id", qs, topN = 3)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1)
      .view.mapValues(_.sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq).toMap
    val expected = Map(
      10L -> Seq("alpha", "beta"),
      20L -> Seq("gamma"),
      30L -> Seq("beta", "delta", "epsilon")).map { case (qid, terms) =>
      qid -> RankOps.bm25(d, "text", "doc_id", terms, topN = 3)
        .collect().zipWithIndex
        .map { case (r, i) => (i + 1, r.getLong(0), r.getDouble(1)) }.toSeq
    }
    assert(got == expected,
      s"batch result diverged from the per-query runs:\n$got\nvs\n$expected")
    // The all-unmatched query yields no rows rather than empty scores.
    assert(!got.contains(40L))
  }

  test("bm25Batch shares ONE corpus explode across all queries") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // File-backed input: a LocalTableScan reports no inputMetrics, so
    // the one-pass accounting needs a real source.
    val dir = java.nio.file.Files.createTempDirectory("bm25batch").resolve("d")
    docs((1L to 200L).map(i =>
      i -> s"alpha beta gamma token$i filler$i"): _*)
      .write.parquet(dir.toString)
    val d = spark.read.parquet(dir.toString)
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    def settle(): Long = {
      org.apache.spark.sql.graftbridge.ListenerBus.drain(spark)
      records.get()
    }
    val qs = (1 to 8).map(q => (q.toLong, if (q % 2 == 0) "alpha" else "beta"))
      .toDF("query_id", "term")
    spark.sparkContext.addSparkListener(listener)
    val cost =
      try { RankOps.bm25Batch(d, "text", "doc_id", qs).count(); settle() }
      finally spark.sparkContext.removeSparkListener(listener)
    records.set(0L)
    spark.sparkContext.addSparkListener(listener)
    val one =
      try { RankOps.bm25(d, "text", "doc_id", Seq("alpha")).count(); settle() }
      finally spark.sparkContext.removeSparkListener(listener)
    // 8 queries for less than the cost of 3 single-term runs — the
    // corpus explode is paid once, only the workload-sized fan-out grows.
    assert(cost < one * 3,
      s"batch of 8 read $cost records vs $one for one query — not one pass")
  }

  test("phraseMatch finds the verbatim sequence only, overlap-counted") {
    val d = docs(
      1L -> "sort merge join pad",          // 1 hit
      2L -> "merge sort pad pad",           // reversed -> no hit
      3L -> "sort pad merge pad",           // gap -> no hit
      4L -> "sort merge sort merge merge",  // 2 hits
      5L -> "sort sort sort pad")           // overlap probe (below)
    val r = RankOps.phraseMatch(d, "text", "doc_id", Seq("sort", "merge"))
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 4L -> 2L), r)
    // Overlapping occurrences each count (sliding shingles).
    val o = RankOps.phraseMatch(d, "text", "doc_id", Seq("sort", "sort"))
      .as[(Long, Long)].collect().toMap
    assert(o == Map(5L -> 2L), o)
    intercept[IllegalArgumentException](
      RankOps.phraseMatch(d, "text", "doc_id", Seq("solo")))
    intercept[IllegalArgumentException](
      RankOps.phraseMatch(d, "text", "doc_id", Seq("two words", "x")))
  }

  test("classTfidf surfaces class-exclusive terms, damps ubiquitous ones") {
    val d = Seq(
      ("news", "election election vote common common"),
      ("news", "election poll common"),
      ("code", "compile compile link common common"),
      ("code", "compile debug common")).toDF("src", "text")
    val r = RankOps.classTfidf(d, "text", "src", k = 2)
      .select("src", "token", "rn").as[(String, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // The class-exclusive high-frequency term wins each class; 'common'
    // (present everywhere, damped by ln(1 + A/ctf_all)) never ranks
    // above the exclusive terms.
    assert(r("news").head == "election", r)
    assert(r("code").head == "compile", r)
    // The idf is ln(1 + ...) > 0: ubiquitous terms are damped, not
    // zeroed — with k covering the whole vocabulary 'common' still
    // carries a positive score.
    val all = RankOps.classTfidf(d, "text", "src", k = 10)
      .filter($"token" === "common").select("score").as[Double].collect()
    assert(all.length == 2 && all.forall(_ > 0.0), all.toSeq)
  }

  test("classTfidf is deterministic under score ties (token tiebreak)") {
    // Two terms with identical counts everywhere tie exactly; the
    // lexicographically smaller token must take the lower rank.
    val d = Seq(("s1", "zz aa"), ("s1", "aa zz")).toDF("src", "text")
    val r = RankOps.classTfidf(d, "text", "src", k = 2)
      .orderBy($"rn").select("token").as[String].collect().toSeq
    assert(r == Seq("aa", "zz"), r)
  }

  test("every operator releases its corpus-sized caches before returning") {
    // The round-8 neardupCore discipline (LshIncrSpec/SrpIncrSpec twins):
    // the returned frame is localCheckpoint-pinned, so the token/bigram
    // explode caches must be unpersisted on return — a long-lived session
    // calling these in a loop must not accumulate corpus-sized entries.
    spark.catalog.clearCache()
    val d = docs(1L -> "alpha beta common", 2L -> "gamma beta common")
    val calls: Seq[(String, () => Unit)] = Seq(
      "tfidfTopK" -> (() => { RankOps.tfidfTopK(d, "text", "doc_id", k = 2); () }),
      "bm25" -> (() => { RankOps.bm25(d, "text", "doc_id", Seq("beta")); () }),
      "conjunctiveBm25" -> (() =>
        { RankOps.conjunctiveBm25(d, "text", "doc_id", Seq("beta")); () }),
      "pmiCollocations" -> (() => { RankOps.pmiCollocations(d, "text", 1, 5); () }),
      "bigramLmScore" -> (() => { RankOps.bigramLmScore(d, "text", "doc_id"); () }),
      "bm25Batch" -> (() => {
        RankOps.bm25Batch(d, "text", "doc_id",
          Seq((1L, "beta")).toDF("query_id", "term")); () }),
      "classTfidf" -> (() => {
        RankOps.classTfidf(
          Seq(("s1", "alpha beta"), ("s2", "gamma beta")).toDF("src", "text"),
          "text", "src", k = 1); () }))
    for ((name, call) <- calls) {
      call()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name leaked a persisted statistics frame")
    }
    // And the pinned results stay readable after the release.
    assert(RankOps.tfidfTopK(d, "text", "doc_id", k = 1).count() == 2L)
  }

  test("termFrequencies is shuffle-free: scan → project → generate, no exchange") {
    // The round-16 native fold contract: per-document counts never leave
    // their row, so the tf table costs ZERO exchanges at any corpus size.
    val d = docs(1L -> "a b a c", 2L -> "b b")
    val plan = RankOps.termFrequencies(d, "text", "doc_id")
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, plan.toString)
    // And the rows are the exact per-doc multiset counts with dl.
    val rows = RankOps.termFrequencies(d, "text", "doc_id")
      .orderBy($"doc_id", $"token")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1L, 4, "a", 2L), (1L, 4, "b", 1L), (1L, 4, "c", 1L), (2L, 2, "b", 2L)))
  }

  test("phraseMatch is a pure projection: no exchange in the plan") {
    val d = docs(1L -> "the quick brown fox", 2L -> "quick brown shoes")
    val out = RankOps.phraseMatch(d, "text", "doc_id", Seq("quick", "brown"))
    val exchanges = out.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, out.queryExecution.executedPlan.toString)
  }
}
