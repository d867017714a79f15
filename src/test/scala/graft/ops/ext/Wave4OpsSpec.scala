package graft.ops.ext

import graft.TestSpark
import graft.ops.{Diff, Expectations, Funnel, FuzzyJoin, GroupStats,
  Intervals, Winsorize}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Wave4OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------- BM25
  test("bm25TopK ranks the term-dense doc first and skips no-hit docs") {
    val docs = Seq(
      (1L, "spark spark spark fast engine"),
      (2L, "spark appears once here in a much longer document with many words"),
      (3L, "nothing relevant at all"),
      (4L, "query spark")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, "text", "doc_id",
      Seq("spark", "query"), k = 10).collect()
    assert(out.map(_.getLong(1)).toSet == Set(1L, 2L, 4L)) // doc 3 absent
    val byId = out.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(byId(4L) > byId(2L)) // two query terms beat one long-doc hit
    assert(out.head.getLong(0) == 1L) // rank column starts at 1
  }

  test("bm25TopK idf penalizes a term present in every doc") {
    val docs = Seq(
      (1L, "common alpha"), (2L, "common beta"), (3L, "common gamma"),
      (4L, "rare delta")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, "text", "doc_id",
      Seq("common", "rare"), k = 10).collect()
    val byId = out.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(byId(4L) > byId(1L)) // rare-term doc outranks common-term docs
  }

  test("bm25 postings explode and filter inside whole-stage codegen") {
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec,
      InputAdapter, SparkPlan, WholeStageCodegenExec}
    val docs = Seq((1L, "spark fast engine"), (2L, "query spark"),
      (3L, "nothing here")).toDF("doc_id", "text")
    def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case o => o.children.flatMap(stage)
    })
    Seq(Retrieval.bm25TopK(docs, "text", "doc_id", Seq("spark", "query")),
      Retrieval.bm25TopKMulti(docs, "text", "doc_id",
        Seq(1L -> Seq("spark"), 2L -> Seq("query", "engine")))).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      val codegen = graft.PlanWalk.collectAll(plan)(
        _.isInstanceOf[WholeStageCodegenExec]).flatMap(stage)
      val gens = graft.PlanWalk.collectAll(plan)(_.isInstanceOf[GenerateExec])
      assert(gens.nonEmpty, plan.treeString)
      gens.foreach(g => assert(codegen.exists(_ eq g), plan.treeString))
      assert(codegen.exists { case f: FilterExec =>
        f.child.isInstanceOf[GenerateExec]; case _ => false },
        plan.treeString)
    }
  }

  // ------------------------------------------------------ WebUrl
  test("normalize canonicalizes case, www, default port, params, fragment") {
    val cases = Seq(
      "HTTPS://WWW.Site.COM:443/Path/?utm_source=x&b=2&a=1#frag" ->
        "https://site.com/Path?a=1&b=2",
      "http://example.org:80/" -> "http://example.org",
      "http://example.org:8080/x" -> "http://example.org:8080/x",
      "https://www.a.b.co/p?ref=z&gclid=1&fbclid=2" -> "https://a.b.co/p",
      "https://plain.net/path" -> "https://plain.net/path")
    val out = cases.map(_._1).toDF("url")
      .select(WebUrl.normalize(col("url"))).as[String].collect()
    out.zip(cases.map(_._2)).foreach { case (got, want) =>
      assert(got == want)
    }
  }

  test("domain extracts last two labels of the canonical host") {
    val out = Seq("HTTPS://WWW.deep.sub.Site.COM/x").toDF("url")
      .select(WebUrl.domain(WebUrl.normalize(col("url")))).as[String].head()
    assert(out == "site.com")
  }

  // ------------------------------------------------ CorpusClean
  val paraDocs = Seq(
    (1L, "header\nunique one\nshared para"),
    (2L, "header\nshared para\nunique two"),
    (3L, "header\nunique three"),
    (4L, "shared para")).toDF("doc_id", "text")

  test("paragraphDedup keeps only the global first occurrence") {
    val out = CorpusClean.paragraphDedup(paraDocs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("header\nunique one\nshared para", 3L, 0L)))
    assert(out(2L) == (("unique two", 1L, 2L))) // header + shared removed
    assert(out(3L) == (("unique three", 1L, 1L)))
    assert(out(4L) == (("", 0L, 1L))) // fully deduped doc survives, empty
  }

  test("boilerplateStrip removes lines in >= minDocs distinct docs") {
    val out = CorpusClean.boilerplateStrip(paraDocs, "text", "doc_id",
      minDocs = 3).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "header" (docs 1,2,3) and "shared para" (docs 1,2,4) both hit
    // the 3-doc threshold -> removed everywhere
    assert(out(1L) == "unique one")
    assert(out(2L) == "unique two")
    assert(out(3L) == "unique three")
    assert(out(4L) == "")
  }

  // ------------------------------------------------ TrainOrder
  test("shuffled is a deterministic permutation with per-shard positions") {
    val df = spark.range(0, 1000).toDF("id")
    val a = TrainOrder.shuffled(df, "id", seed = 7L, nShards = 4)
    val b = TrainOrder.shuffled(df, "id", seed = 7L, nShards = 4)
    assert(a.collect().toSet == b.collect().toSet) // reproducible
    assert(a.select("id").distinct().count() == 1000) // permutation
    // positions are 1..n_shard contiguous within each shard
    val perShard = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("position").as("mx"),
        min("position").as("mn")).collect()
    perShard.foreach { r =>
      assert(r.getLong(3) == 1L && r.getLong(2) == r.getLong(1))
    }
    // a different seed reorders
    val c = TrainOrder.shuffled(df, "id", seed = 8L, nShards = 4)
    assert(c.collect().toSet != a.collect().toSet)
  }

  // ------------------------------------------------ Diff
  test("snapshots classifies added/removed/changed and drops unchanged") {
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
    val v2 = Seq((1L, "a", 1.0), (2L, "B", 2.0), (4L, "d", 4.0))
      .toDF("k", "s", "v")
    val out = Diff.snapshots(v1, v2, "k", Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("snapshots treats null -> value as changed (null-safe compare)") {
    val v1 = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("k", "s")
    val v2 = Seq((1L, Some("now")), (2L, Some("x"))).toDF("k", "s")
    val out = Diff.snapshots(v1, v2, "k", Seq("s")).collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L)
  }

  // ------------------------------------------------ FuzzyJoin
  test("fuzzy join matches within distance budget, blocks by prefix") {
    val ref = Seq((1L, "alpha-widget"), (2L, "alpha-wadget"),
      (3L, "betas-widget")).toDF("id", "name")
    val dirty = Seq((10L, "alpha-widgee"), (11L, "gamma-widget"))
      .toDF("id", "name")
    val out = FuzzyJoin.join(dirty, ref, "id", "name", "id", "name",
      maxDist = 1, blockPrefix = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 10 matches 1 (dist 1); 2 is dist 2 -> out; 11's block "gamma" empty
    assert(out == Set((10L, 1L)))
  }

  test("fuzzy join thresholded distance never returns negative dist") {
    val ref = Seq((1L, "aaaa-bbbb")).toDF("id", "name")
    val dirty = Seq((2L, "aaaa-cccc")).toDF("id", "name") // dist 4 > 1
    assert(FuzzyJoin.join(dirty, ref, "id", "name", "id", "name",
      maxDist = 1, blockPrefix = 4).count() == 0)
  }

  // ------------------------------------------------ Funnel
  val ev = Seq(
    // user 1 completes view -> click -> purchase in order
    (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
    // user 2 clicks BEFORE viewing -> stuck at view stage
    (2L, "click", 5L), (2L, "view", 10L),
    // user 3 views and clicks, never purchases
    (3L, "view", 1L), (3L, "click", 2L),
    // user 4 purchases with no view -> not in the funnel at all
    (4L, "purchase", 7L))
    .toDF("user_id", "event_type", "tsl")
    .withColumn("ts", timestamp_seconds(col("tsl")))

  test("funnel counts strictly-ordered stage completion") {
    val out = Funnel.stages(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("1_view" -> 3L, "2_click" -> 2L, "3_purchase" -> 1L))
  }

  test("transitions counts consecutive pairs per user in ts order") {
    val out = Funnel.transitions(
      ev.withColumn("event_id", col("tsl")), "user_id", "event_type",
      "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // user1: view->click, click->purchase; user2: click->view;
    // user3: view->click; user4: no pair
    assert(out == Map(("view", "click") -> 2L,
      ("click", "purchase") -> 1L, ("click", "view") -> 1L))
  }

  test("cohort retention buckets by first-seen day with day offsets") {
    val e2 = Seq(
      (1L, 0L), (1L, 86400L), (2L, 0L), (2L, 0L + 3600), (3L, 86400L))
      .toDF("user_id", "tsl")
      .withColumn("ts", timestamp_seconds(col("tsl")))
    val out = Funnel.cohortRetention(e2, "user_id", "ts")
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.getEpochSecond,
        r.getLong(1), r.getLong(2))).toSet
    // day-0 cohort: users 1,2 on day 0; user 1 again on day 1
    // day-1 cohort: user 3
    assert(out == Set((0L, 0L, 2L), (0L, 1L, 1L), (86400L, 0L, 1L)))
  }

  // ------------------------------------------------ Intervals
  test("interval union merges overlapping and touching intervals") {
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 15L),   // overlap -> island grows to [0,15)
      (1L, 15L, 20L),                 // half-open touch -> SAME island
      (1L, 30L, 40L),                 // gap -> second island
      (2L, 0L, 5L)).toDF("k", "s", "e")
    val out = Intervals.unionPerKey(iv, "k", "s", "e")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out(1L) == ((2L, 30L))) // [0,20) + [30,40) = 20 + 10 covered
    assert(out(2L) == ((1L, 5L)))
  }

  test("interval union: contained interval does not split the island") {
    val iv = Seq((1L, 0L, 100L), (1L, 10L, 20L), (1L, 50L, 150L))
      .toDF("k", "s", "e")
    val out = Intervals.unionPerKey(iv, "k", "s", "e").collect().head
    assert(out.getLong(1) == 1L && out.getLong(2) == 150L)
  }

  // ------------------------------------------------ Expectations
  test("expectations fold all checks into one pass with exact counts") {
    val df = Seq((1L, Some(5.0)), (2L, None), (3L, Some(-1.0)))
      .toDF("id", "v")
    val out = Expectations.check(df, Seq(
      "null_v" -> col("v").isNull,
      "neg_v" -> (col("v") < 0.0)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == Map("null_v" -> ((1L, 3L)), "neg_v" -> ((1L, 3L))))
  }

  test("orphans counts child keys missing from the parent") {
    val child = Seq((1L, "a"), (2L, "b"), (9L, "c")).toDF("fk", "x")
    val parent = Seq((1L, "p"), (2L, "p")).toDF("pk", "y")
    val r = Expectations.orphans(child, parent, "fk", "pk", "orphan")
      .collect().head
    assert(r.getString(0) == "orphan" && r.getLong(1) == 1L &&
      r.getLong(2) == 3L)
  }

  // ------------------------------------------------ SparseSim
  test("cosineJoin finds near-identical docs and skips unrelated ones") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // 1 token off
      (3L, "one two three four five six seven eight"),
      (4L, "alpha beta unrelated mixture of other words entirely"))
      .toDF("doc_id", "text")
    val pairs = SparseSim.cosineJoin(docs, "text", "doc_id",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(pairs.keySet == Set((1L, 2L)))
    assert(pairs((1L, 2L)) > 0.6) // 6/7 shared bigrams, idf-weighted
  }

  test("cosineJoin df cap drops saturated terms from the index") {
    // the "common common common" trigram is in every doc; with maxDf=2
    // it cannot generate candidates, so no pair survives — with the
    // default cap the shared-trigram pairs DO form
    // 4th doc keeps the shared trigram's idf nonzero (df < n)
    val docs = Seq(
      (1L, "common common common distinct1"),
      (2L, "common common common distinct2"),
      (3L, "common common common distinct3"),
      (4L, "totally different words here")).toDF("doc_id", "text")
    val capped = SparseSim.cosineJoin(docs, "text", "doc_id",
      threshold = 0.05, maxDf = 2L)
    assert(capped.count() == 0)
    val uncapped = SparseSim.cosineJoin(docs, "text", "doc_id",
      threshold = 0.05)
    assert(uncapped.count() > 0)
  }

  // ------------------------------------------------ Winsorize
  test("winsorize clips at exact percentiles and reports clip counts") {
    // group g: values 1..20 plus an outlier 1000
    val df = ((1 to 20).map(i => ("g", i.toDouble)) :+ (("g", 1000.0)))
      .toDF("grp", "v")
    val r = Winsorize.stats(df, "grp", "v").collect().head
    val (lo, hi) = (r.getDouble(1), r.getDouble(2))
    assert(lo > 1.0 && lo < 3.0)   // p05 of 21 values
    assert(hi < 1000.0)            // p95 clips the outlier
    assert(r.getLong(4) == 21L)    // n
    assert(r.getLong(5) >= 2L)     // at least one clip each side
    assert(r.getDouble(3) < 100.0) // clipped mean not outlier-dominated
  }
  test("medianMode interpolates even-count median and tie-breaks mode low") {
    val df = Seq(
      ("g", 1.0, 5), ("g", 2.0, 7), ("g", 3.0, 7), ("g", 10.0, 5),
      ("h", 4.0, 9)).toDF("grp", "x", "m")
    val out = GroupStats.medianMode(df, "grp", "x", "m")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getInt(3), r.getLong(4)))).toMap
    assert(out("g") == ((2.5, 5, 2L))) // (2+3)/2; mode tie 5 vs 7 -> 5
    assert(out("h") == ((4.0, 9, 1L)))
  }
}
