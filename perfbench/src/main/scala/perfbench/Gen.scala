package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

import graft.operators.ShareHolders

/** A raw Kafka record of the `share-holders` topic: key `client:::ticker`,
  * JSON value or null (tombstone), offset. This is the frame
  * `KafkaChangelog.parse` decodes.
  */
case class Frame(key: Array[Byte], value: Array[Byte], offset: Long)

/** One generated update, kept beside its frame for the correctness oracle. */
case class Update(seq: Long, client: String, ticker: String, exchange: String, amount: Int) {
  def key: String = s"$client:::$ticker"

  /** The frame the reference producer writes (fake_producer.clj:11-36):
    * amount 0 is a null-value tombstone.
    */
  def frame: Frame = {
    val value =
      if (amount == 0) null
      else s"""{"client":"$client","id":"$key","ticker":"$ticker","exchange":"$exchange","amount":$amount}"""
        .getBytes(UTF_8)
    Frame(key.getBytes(UTF_8), value, seq)
  }
}

/** Seeded update generators. The same seed gives the same sequence; the
  * sequence is consumed as a prefix, so its length may vary with speed while
  * every update in it is fixed by (seed, index).
  */
sealed trait Gen {
  protected val rnd: scala.util.Random
  private var seq = 0L
  private val digest = java.security.MessageDigest.getInstance("SHA-256")
  protected def client(): String
  protected def ticker(): String

  def next(): Update = {
    val c = client()
    val t = ticker()
    val ex = Gen.Exchanges(rnd.nextInt(Gen.Exchanges.size))
    // about 10% tombstones, as the reference producer's amount=0 case
    val amount = if (rnd.nextInt(10) == 0) 0 else 1 + rnd.nextInt(1000)
    val u = Update(seq, c, t, ex, amount)
    seq += 1
    val f = u.frame
    digest.update(f.key)
    if (f.value != null) digest.update(f.value)
    u
  }

  def take(n: Int): Vector[Update] = Vector.fill(n)(next())

  /** SHA-256 over every frame generated so far: equal seeds and lengths give
    * equal digests.
    */
  def frameDigest: String =
    digest.clone().asInstanceOf[java.security.MessageDigest].digest().map("%02x".format(_)).mkString
}

object Gen {
  val Exchanges: Vector[String] = Vector("NASDAQ", "LON", "NYSE")

  /** replay: Zipf(1.0) over 2000 clients and 500 tickers, so the hottest
    * clients hold hundreds of positions.
    */
  final class Replay(seed: Long) extends Gen {
    protected val rnd = new scala.util.Random(seed)
    private val clients = 2000
    private val cdf = {
      val w = (1 to clients).map(1.0 / _)
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    protected def client(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      f"c${if (i >= 0) i else math.min(-i - 1, clients - 1)}%04d"
    }
    protected def ticker(): String = f"T${rnd.nextInt(500)}%03d"
  }

  /** live: the reference producer's shape, uniform clients x 20 tickers. */
  final class Live(seed: Long) extends Gen {
    protected val rnd = new scala.util.Random(seed)
    protected def client(): String = f"u${rnd.nextInt(1000)}%04d"
    protected def ticker(): String = LiveTickers(rnd.nextInt(LiveTickers.size))
  }

  val LiveTickers: Vector[String] = Vector("AAPL", "MSFT", "GOOG", "AMZN", "NVDA", "META",
    "TSLA", "INTC", "CSCO", "ADBE", "BT.A", "VOD", "HSBA", "BP", "SHEL", "IBM", "KO",
    "JPM", "XOM", "WMT")

  /** The KTable law: the served view equals the batch recompute over the same
    * changelog (`ShareHolders.nasdaqPositionsByClient`).
    */
  def expectedView(spark: SparkSession, updates: Seq[Update]): Map[String, Seq[String]] = {
    import spark.implicits._
    val changelog = updates.map(u => (u.seq, u.key, u.client, u.ticker, u.exchange, u.amount == 0))
      .toDF("seq", "key", "client", "ticker", "exchange", "tombstone")
    ShareHolders.nasdaqPositionsByClient(changelog).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
  }

  /** Human-readable first difference between two views, for the report. */
  def firstDiff(got: Map[String, Seq[String]], want: Map[String, Seq[String]]): Option[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.collectFirst {
      case k if got.get(k) != want.get(k) =>
        s"client $k: served ${got.get(k).map(_.mkString(",")).getOrElse("-")} " +
          s"expected ${want.get(k).map(_.mkString(",")).getOrElse("-")}"
    }
}
