package graft.perfbench

import graft.fixtures.PagesGen
import graft.spark.PageRowIn
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded inputs: the page id range of a run and its query stream.
  *
  * Pages come from `PagesGen`'s per-row generators, so a seed only picks
  * WHICH ids a run indexes; the same seed always yields the same corpus and
  * the same queries.
  */
object Inputs {

  /** splitmix64 finaliser: spreads consecutive seeds over the id space. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** First page id of the run's corpus. Ids stay above 10^6 so a title's
    * id token (7+ digits) never collides with the 4-digit body numbers. */
  def baseId(seed: Long): Long = 1000000L + java.lang.Math.floorMod(mix(seed), 50000000L)

  /** Pages [from, until) as the engine's `pages` input. */
  def pages(spark: SparkSession, from: Long, until: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, parts).map { i =>
      val ts = new java.sql.Timestamp(1767225600000L + (i % 1000000L) * 37000L)
      PageRowIn(PagesGen.urlFor(i), ts,
        PagesGen.htmlFor(i).getBytes(java.nio.charset.StandardCharsets.UTF_8), null,
        if (i % 20 == 19) "ru" else "en")
    }.toDF()
  }

  /** The same pages, driver-side, in the engine's docId order (url-sorted). */
  def localPages(from: Long, until: Long): Seq[(String, String)] =
    (from until until).map(i => (PagesGen.urlFor(i), PagesGen.htmlFor(i))).sortBy(_._1)

  /** A page id in [from, until) whose title carries its id (template T3),
    * so the bare id is a token only that page holds. */
  def titledId(from: Long, until: Long): Long = {
    val i = until - 1
    i - java.lang.Math.floorMod(i - 3, 5L)
  }
}

/** One positional query: request text and proximity distance. */
final case class Query(template: String, req: String, dist: Int)

/** Seeded query stream over the generator's vocabulary. Words are drawn
  * with the generator's own log-uniform rank law (a heavy head, like the
  * corpus), templates with Zipf weights 1/(k+1) in the order below.
  *
  * Draws are stratified: every block of `Block` word ranks covers the rank
  * law's quantiles once each, and every block of `Block` queries holds each
  * template in its exact share, both in seeded order. A seed still picks
  * its own words, but every run sees the same cost mix, so a short window
  * does not measure the luck of the draw. */
final class QueryStream(seed: Long) {
  import QueryStream._

  private val rnd = new java.util.Random(Inputs.mix(seed ^ 0x5EEDL))

  private var drawn = 0L
  private val seen = new java.util.HashSet[String]()

  /** Cycles through seeded shuffles of `items`. */
  private final class Deck[A](items: IndexedSeq[() => A]) {
    private var order = IndexedSeq.empty[() => A]
    private var i = 0
    def next(): A = {
      if (i == order.length) {
        order = new scala.util.Random(rnd.nextLong()).shuffle(items)
        i = 0
      }
      i += 1
      order(i - 1)()
    }
  }

  // one stratum per quantile: u in [k/Block, (k+1)/Block)
  private val ranks = new Deck[Int]((0 until Block).map(k => () => {
    val u = (k + rnd.nextDouble()) / Block
    math.min(Vocab - 1, math.exp(u * math.log(Vocab.toDouble)).toInt - 1)
  }))

  def word(): String = PagesGen.vocabWord(ranks.next())

  private def wildcard(): String = {
    val w = word()
    val at = 1 + rnd.nextInt(w.length - 1)
    w.substring(0, at) + "?" + w.substring(at + 1)
  }

  private val templates = new Deck[Query](templateCounts.flatMap { case (t, n) =>
    Seq.fill(n)(() => t match {
      case "word" => Query(t, word(), graft.core.Consts.DefaultDist)
      case "and" => Query(t, s"${word()} ${word()}", graft.core.Consts.DefaultDist)
      case "or" => Query(t, s"${word()} | ${word()}", graft.core.Consts.DefaultDist)
      case "phrase" =>
        val at = rnd.nextInt(pickwickWords.length - 1)
        Query(t, "\"" + pickwickWords(at) + " " + pickwickWords(at + 1) + "\"", 40)
      case "proximity" => Query(t, s"${word()} ${word()}", 40)
      case "wildcard" => Query(t, wildcard(), graft.core.Consts.DefaultDist)
      case _ => Query(t, s"${word()} {Source=web}", graft.core.Consts.DefaultDist)
    })
  })

  private val bm25Lengths = new Deck[Int](IndexedSeq(1, 2, 3).map(n => () => n))

  private def note(s: String): Unit = { drawn += 1; seen.add(s) }

  def next(): Query = {
    val q = templates.next()
    note(s"q:${q.req}:${q.dist}")
    q
  }

  /** A bag-of-words BM25 query of 1 to 3 words. */
  def nextBm25(): Seq[String] = {
    val ws = Seq.fill(bm25Lengths.next())(word())
    note("b:" + ws.mkString(" "))
    ws
  }

  /** Prefix of a drawn word, for /suggest. */
  def nextPrefix(): String = {
    val w = word()
    val p = w.substring(0, math.min(w.length, 3))
    note("s:" + p)
    p
  }

  /** REST request kinds in the workload's shares: per 20 requests, 10
    * /search, 8 /bm25, 1 /suggest and 1 /close, in seeded order. */
  private val kinds = new Deck[String](
    (Seq.fill(10)("search") ++ Seq.fill(8)("bm25") ++ Seq("suggest", "close")).toIndexedSeq.map(k => () => k))
  def nextKind(): String = kinds.next()

  /** Distinct draws over all draws so far. */
  def distinctRatio: Double = if (drawn == 0) 1.0 else seen.size.toDouble / drawn
}

object QueryStream {
  val Vocab = 10000
  val Block = 64

  private val pickwickWords: Array[String] =
    PagesGen.pickwick.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").filter(_.length >= 3)

  /** Queries per template in a block of `Block`, by Zipf weight 1/(k+1). */
  val templateCounts: IndexedSeq[(String, Int)] = {
    val names = IndexedSeq("word", "and", "or", "phrase", "proximity", "wildcard", "field")
    val w = names.indices.map(k => 1.0 / (k + 1))
    names.zip(w.map(x => math.max(1, math.round(Block * x / w.sum).toInt)))
  }
}
