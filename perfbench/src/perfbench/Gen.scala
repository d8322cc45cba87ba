package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.{GoldenCorpus, Pages}

/** Seeded input generator. Every workload's input is a pure function of
  * the seed: each document draws from its own `Random(seed, index)`, so
  * the same seed yields the same rows in any order of generation.
  *
  * Base documents are the library's deterministic fixture corpus
  * ([[GoldenCorpus.doc]], 470 documents in 25 languages and 17 classes:
  * clean prose, too-short, symbol soup, keyword stuffing, duplicated lines,
  * PII, nav boilerplate, code, unsegmented CJK/Thai). Generated documents
  * concatenate base documents and perturb them word by word.
  */
object Gen {

  val baseDocs: Array[(String, String, String)] =
    (0 until 470).map(GoldenCorpus.doc).toArray

  /** Clean prose in every language (fixture classes "clean prose" and
    * "clean prose in the depth languages"): the source of documents the
    * default rules keep, used for the pipeline corpus that must reach
    * dedup.
    */
  val prose: Array[Int] =
    baseDocs.indices.filter(i => (i < 240 && i % 12 <= 5) ||
      (i >= 280 && i < 440)).toArray

  /** Clean English prose, the boilerplate template's source. */
  val englishProse: Array[Int] = prose.filter(i => baseDocs(i)._3 == "en")

  /** Doc-length mix: the number of base documents concatenated into one
    * generated document, 1 to 16. Half are single documents, a quarter
    * 2-4, 15% 5-8 and 10% 9-16 (mean about 3.5).
    */
  def lengthMix(rnd: Random): Int = {
    val u = rnd.nextDouble()
    if (u < 0.50) 1
    else if (u < 0.75) 2 + rnd.nextInt(3)
    else if (u < 0.90) 5 + rnd.nextInt(4)
    else 9 + rnd.nextInt(8)
  }

  /** Independent generator per (seed, stream, index). The key goes
    * through a SplitMix64 finaliser first: java.util.Random seeded with
    * consecutive integers yields correlated first draws.
    */
  def rng(seed: Long, stream: Int, i: Int): Random = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xC2B2AE3D27D4EB4FL + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new Random(z ^ (z >>> 31))
  }

  /** Replace each space-separated word, with probability `rate`, by another
    * word of the same text. Unsegmented scripts have few spaces, so they
    * change little; concatenation still makes them distinct.
    */
  def perturb(text: String, rnd: Random, rate: Double): String = {
    val toks = text.split(" ", -1)
    if (toks.length < 2) return text
    val src = toks.clone()
    var i = 0
    while (i < toks.length) {
      if (rnd.nextDouble() < rate) toks(i) = src(rnd.nextInt(src.length))
      i += 1
    }
    toks.mkString(" ")
  }

  private def concatBase(rnd: Random, k: Int, pool: Array[Int]): (String, String) = {
    val idx = Array.fill(k)(pool(rnd.nextInt(pool.length)))
    (idx.map(baseDocs(_)._2).mkString("\n"), baseDocs(idx.head)._3)
  }

  private val allBase: Array[Int] = baseDocs.indices.toArray

  final case class Doc(url: String, text: String, lang: String)

  /** Filter-scan corpus: `n` documents over 40 hosts, each 1-16 base
    * documents (any class) with 5% of words perturbed. No two texts are
    * equal: a collision is perturbed again.
    */
  def filterDocs(seed: Long, n: Int): Array[Doc] = {
    val seen = new java.util.HashSet[String]()
    Array.tabulate(n) { i =>
      val rnd = rng(seed, 1, i)
      val (raw, lang) = concatBase(rnd, lengthMix(rnd), allBase)
      var text = perturb(raw, rnd, 0.05)
      while (!seen.add(text)) text = perturb(text, rnd, 0.2) + " " + i
      Doc(s"https://site${rnd.nextInt(40)}.example.com/p/$i", text, lang)
    }
  }

  /** Stated shape of the pipeline corpus (counts out of `n` pages). The
    * boilerplate cluster is well over the dedup bucket cap of 1000: a
    * cluster just over it leaves some LSH buckets just under it, and
    * those are expanded pair by pair.
    */
  final case class PipelineShape(n: Int, cluster: Int = 1300) {
    val exactDups: Int = n / 10    // byte copies of another page's text
    val nearDups: Int = n / 10     // 2% of words changed (Jaccard >= 0.8)
    val hotHostShare: Double = 0.3 // share of all pages on one host
    val unique: Int = n - cluster - exactDups - nearDups
    require(unique > 0, s"pipeline corpus of $n pages is too small")
  }

  /** pipeline corpus: unique documents (2-4 clean-prose base documents;
    * every fifth drawn from all classes so the filter drops some), exact
    * and near copies of them, one boilerplate cluster, and one hot host.
    * The cluster is one English template of exactly 400 words plus a
    * per-page item number: distinct texts whose MinHash band signatures
    * mostly agree, so the cluster's LSH buckets exceed the dedup bucket
    * cap. The template is the same for every seed, like a site's
    * boilerplate: the cluster's LSH buckets, and the shuffle partitions
    * they hash to, then do not change with the seed, so neither does the
    * cluster's cost.
    */
  def pipelineDocs(seed: Long, shape: PipelineShape): Array[Doc] = {
    val template = {
      val rnd = rng(0L, 2, -1)
      Iterator.continually(concatBase(rnd, 1, englishProse)._1)
        .flatMap(_.split(" ")).take(400).mkString(" ")
    }
    val uniq = Array.tabulate(shape.unique) { i =>
      val rnd = rng(seed, 3, i)
      val pool = if (i % 5 == 4) allBase else prose
      val (raw, lang) = concatBase(rnd, 2 + rnd.nextInt(3), pool)
      (perturb(raw, rnd, 0.05) + s" ref$i", lang)
    }
    val texts = uniq ++
      Array.tabulate(shape.exactDups) { i =>
        uniq(rng(seed, 4, i).nextInt(uniq.length))
      } ++
      Array.tabulate(shape.nearDups) { i =>
        val rnd = rng(seed, 5, i)
        val (t, l) = uniq(rnd.nextInt(uniq.length))
        (perturb(t, rnd, 0.02), l)
      } ++
      Array.tabulate(shape.cluster)(i => (s"$template item $i", "en"))
    val order = rng(seed, 11, 0).shuffle(texts.indices.toVector)
    order.zipWithIndex.map { case (j, i) =>
      val rnd = rng(seed, 7, i)
      val host =
        if (rnd.nextDouble() < shape.hotHostShare) "hot.example.com"
        else s"site${rnd.nextInt(40)}.example.com"
      Doc(s"https://$host/p/$i", texts(j)._1, texts(j)._2)
    }.toArray
  }

  /** Pages rows in the library's `pages` schema. */
  def pagesRows(docs: Array[Doc]): java.util.List[Row] = {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = new java.util.ArrayList[Row](docs.length)
    docs.zipWithIndex.foreach { case (d, i) =>
      rows.add(Row(d.url, new java.sql.Timestamp(t0 + i * 60000L),
        s"<html><body>${d.text}</body></html>".getBytes("UTF-8"),
        d.text, d.lang))
    }
    rows
  }

  def writePages(spark: SparkSession, docs: Array[Doc], dir: String,
                 files: Int): Unit =
    spark.createDataFrame(pagesRows(docs), Pages.schema)
      .repartition(files).write.mode("overwrite").parquet(dir)

  // ---- check_runs tables --------------------------------------------

  val orderStatuses: Array[String] = Array("F", "O", "P")
  val eventTypes: Array[String] =
    Array("view", "click", "cart", "buy", "share")

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", DateType, nullable = false)))

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  def ordersRows(seed: Long, n: Int): java.util.List[Row] = {
    val d0 = java.sql.Date.valueOf("2024-01-01").getTime
    val rows = new java.util.ArrayList[Row](n)
    (0 until n).foreach { i =>
      val rnd = rng(seed, 8, i)
      rows.add(Row(i.toLong, rnd.nextInt(n / 10 + 1).toLong,
        orderStatuses(rnd.nextInt(orderStatuses.length)),
        math.round(rnd.nextDouble() * 1e6) / 100.0,
        new java.sql.Date(d0 + rnd.nextInt(365) * 86400000L)))
    }
    rows
  }

  def eventsRows(seed: Long, n: Int): java.util.List[Row] = {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = new java.util.ArrayList[Row](n)
    (0 until n).foreach { i =>
      val rnd = rng(seed, 9, i)
      rows.add(Row(i.toLong, rnd.nextInt(1000).toLong,
        eventTypes(rnd.nextInt(eventTypes.length)),
        new java.sql.Timestamp(t0 + rnd.nextInt(86400 * 30) * 1000L),
        math.round(rnd.nextDouble() * 1e5) / 100.0))
    }
    rows
  }

  /** check_runs pages: 1-3 base documents each; 1% have a NULL lang so
    * the not_empty_pct check measures something.
    */
  def checkPages(seed: Long, n: Int): Array[Doc] =
    Array.tabulate(n) { i =>
      val rnd = rng(seed, 10, i)
      val (raw, lang) = concatBase(rnd, 1 + rnd.nextInt(3), allBase)
      Doc(s"https://site${rnd.nextInt(40)}.example.com/c/$i",
        perturb(raw, rnd, 0.05), if (rnd.nextInt(100) == 0) null else lang)
    }
}
