package graft.ops.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-bucket membership cap on the LSH band joins: a degenerate
  * bucket (mass near-duplicated boilerplate concentrating one (band,
  * key)) must DEGRADE TO A LINEAR STAR, never a df² pairwise stage.
  * Fixtures are the pathological case itself — 10⁴ members landing in
  * the same bucket, where the uncapped join would enumerate ~5·10⁷
  * pairs; the assertions pin (a) output volume stays linear in the
  * flood size, (b) the duplicate CLUSTER stays connected (what
  * downstream connected-components consumes), (c) pairs outside the
  * flood are untouched.
  */
class DedupCapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def componentsOf(pairs: Seq[(Long, Long)],
                           nodes: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) x = parent(x)
      var y = x0 // path compression, iteratively
      while (parent(y) != y) { val next = parent(y); parent(y) = x; y = next }
      x
    }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    nodes.map(n => n -> find(n)).toMap
  }

  test("hammingNearDups: a 10^4-member bucket degrades to a linear star") {
    val n = 10000
    // every fingerprint identical -> EVERY band bucket has n members;
    // uncapped this is ~5*10^7 pairs, capped it must be exactly n-1
    val flood = (1 to n).map(i => (i.toLong, 0x5a5a5a5a5a5a5a5aL))
    // plus one genuine near-dup pair far from the flood value (1 bit
    // apart) that must still surface through its own tiny buckets
    val pairA = (900001L, 0x0123456789abcdefL)
    val pairB = (900002L, 0x0123456789abcdeeL)
    val fp = (flood :+ pairA :+ pairB).toDF("id", "fp")
    val out = Dedup.hammingNearDups(fp, "fp", "id",
        maxHamming = 3, bands = 8, maxBucket = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // star: rep (min id = 1) pairs with each other flood member once
    val floodPairs = out.filter(_._2 <= n)
    assert(floodPairs.length == n - 1,
      s"expected ${n - 1} star pairs, got ${out.length}")
    assert(floodPairs.forall(_._1 == 1L), "star must center on the min id")
    // the independent near-dup pair is not collateral damage
    assert(out.contains((900001L, 900002L)))
    // connectivity: one component for the flood
    val comp = componentsOf(floodPairs.toSeq, (1 to n).map(_.toLong))
    assert(comp.values.toSet.size == 1, "flood cluster must stay connected")
  }

  test("hammingNearDups: cap disabled reproduces the uncapped pair set") {
    // small corpus, huge cap -> byte-identical behavior to the old join
    val fp = Seq((1L, 0L), (2L, 1L), (3L, 3L), (4L, -1L)).toDF("id", "fp")
    val capped = Dedup.hammingNearDups(fp, "fp", "id", 3, 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("embeddingNearDups: identical-embedding flood degrades to a star") {
    val n = 10000
    // every row embeds to the same point -> every sign bucket floods;
    // uncapped this is ~5*10^7 verified pairs
    val flood = (1 to n).map(i => (i.toLong, Seq(1.0, 0.0, 0.5, -0.25)))
      .toDF("id", "emb")
    val out = Dedup.embeddingNearDups(flood, "emb", "id",
        threshold = 0.99, maxBucket = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(out.length == n - 1, s"expected ${n - 1} star pairs, got ${out.length}")
    assert(out.forall(_._1 == 1L), "star must center on the min id")
  }

  test("minhashNearDups: near-identical boilerplate flood stays linear") {
    val n = 10000
    val boiler = (1 to 32).map(i => s"w$i").mkString(" ")
    // n DISTINCT texts (the exact-dup pre-pass must not collapse them)
    // sharing a 32-token boilerplate: most band minima agree, so band
    // buckets flood; pairwise jaccard ~30/34 >= 0.8 -> the TRUE pair
    // volume is ~5*10^7 and only a capped join survives it
    val docs = (1 to n).map(i => (i.toLong, s"$boiler uniq$i"))
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val out = Dedup.minhashNearDups(docs, "text", "doc_id",
        threshold = 0.8, maxBucket = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val sec = (System.nanoTime() - t0) / 1e9
    // linear-ish output: star pairs per oversized band (<= bands * n)
    // instead of ~n^2/2
    assert(out.length < 20 * n,
      s"pair volume ${out.length} not linear in flood size")
    assert(out.length >= n - 1, "flood cluster lost pairs below a spanning set")
    val comp = componentsOf(out.toSeq, (1 to n).map(_.toLong))
    assert(comp.values.toSet.size == 1, "flood cluster must stay connected")
    info(f"flood n=$n -> ${out.length} pairs in $sec%.1f s")
  }

  test("Oph.nearDups drops an oversized hub whole; hammingNearDups stars it") {
    val n = 300
    // n identical texts: every OPH bin key and shingle key of the flood
    // is a hub of n > maxBucket members; the lone pair outside it keys
    // its own two-member buckets
    val boiler = "the same boilerplate page text repeated on every mirror"
    val unrelated = "quite different words about an unrelated subject entirely"
    val docs = ((1 to n).map(i => (i.toLong, boiler)) ++
      Seq((900001L, unrelated), (900002L, unrelated))).toDF("doc_id", "text")
    val oph = Oph.nearDups(docs, "text", "doc_id", maxBucket = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(oph.toSeq == Seq((900001L, 900002L)), "the hub must be dropped")
    // the same flood as fingerprints: the Dedup cap keeps it connected
    // as a star around the minimal member
    val fp = (1 to n).map(i => (i.toLong, 0x5a5a5a5a5a5a5a5aL))
      .toDF("id", "fp")
    val ham = Dedup.hammingNearDups(fp, "fp", "id",
        maxHamming = 3, bands = 8, maxBucket = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(ham.sorted.toSeq == (2 to n).map(i => (1L, i.toLong)))
  }
}
