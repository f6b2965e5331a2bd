package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import graft.streaming.MicroBatcher.Rec

/** Seeded invoice traffic for the two streaming jobs. Everything the
  * checks expect — staged count and sids, retries per reason, the record
  * keys that must be emitted — is counted here while the inputs are
  * built, never by running the program.
  *
  * Request packets hold 1 to 40 elements, flat or nested under `inv`.
  * About 5% of elements are rejects, spread over the three reject
  * reasons, and about 10% carry no syncid (the uuid default). Response
  * records give one hot api_type about 60% of the traffic, and about 2%
  * carry an api_type outside the domain, which must never be emitted.
  * Record keys are unique: the batcher dedups only within its buffer. */
final class InvoiceGen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  val Domain: Seq[Int] = 10 to 14
  val OutOfDomain: Seq[Int] = Seq(0, 9, 15, 99)
  val hot: Int = Domain(rnd.nextInt(Domain.size))
  private val cold = Domain.filter(_ != hot)

  private var nextSid = 0L
  private var nextKey = 0L

  val stagedSids = mutable.HashSet.empty[String]
  val rejects = mutable.LinkedHashMap(
    "stax is null" -> 0L, "sid is null" -> 0L, "api_type is null" -> 0L)
  /** In-domain record key -> api_type: each must be emitted exactly once. */
  val expectedKeys = mutable.HashMap.empty[String, Int]

  private def body(): String = {
    val sb = new StringBuilder
    (0 until 1 + rnd.nextInt(4)).foreach(_ => sb ++= java.lang.Long.toHexString(rnd.nextLong()))
    sb.toString
  }

  private def element(): String = {
    val sid = s"S$seed-$nextSid"
    nextSid += 1
    val stax = f"${rnd.nextLong(10000000000L)}%010d"
    val syncid = if (rnd.nextInt(10) == 0) None else Some(s"Y$sid")
    val api = Domain(rnd.nextInt(Domain.size))
    // 0 = valid; 1..3 = drop stax, sid or api_type (one reason each)
    val reject = if (rnd.nextInt(100) < 5) 1 + rnd.nextInt(3) else 0
    reject match {
      case 0 => stagedSids += sid
      case 1 => rejects("stax is null") += 1
      case 2 => rejects("sid is null") += 1
      case _ => rejects("api_type is null") += 1
    }
    def f(k: String, v: String) = s""""$k":"$v""""
    val ids = Seq(
      if (reject == 2) None else Some(f("sid", sid)),
      if (reject == 1) None else Some(f("stax", stax)),
      syncid.map(f("syncid", _))).flatten
    val apiField = if (reject == 3) Seq.empty else Seq(s""""api_type":$api""")
    val b = f("body", body())
    if (rnd.nextBoolean()) (apiField ++ ids :+ s""""inv":{$b}""").mkString("{", ",", "}")
    else (apiField :+ s""""inv":{${(ids :+ b).mkString(",")}}""").mkString("{", ",", "}")
  }

  /** One request packet and its element count. */
  def packet(): (String, Int) = {
    val n = 1 + rnd.nextInt(40)
    (Seq.fill(n)(element()).mkString("""{"inv_pack":[""", ",", "]}"), n)
  }

  private def rec(api: Int): Rec = {
    val key = s"R$seed-$nextKey"
    nextKey += 1
    if (Domain.contains(api)) expectedKeys(key) = api
    Rec(api, key, s"$api|$key")
  }

  /** One open-loop record: hot ~60%, out-of-domain ~2%, cold the rest. */
  def record(): Rec = {
    val u = rnd.nextInt(1000)
    rec(if (u < 20) OutOfDomain(rnd.nextInt(OutOfDomain.size))
      else if (u < 620) hot
      else cold(rnd.nextInt(cold.size)))
  }

  /** A burst whose in-domain records fill whole packets per api_type, so
    * every one of them leaves on the count path; ~2% out-of-domain
    * records ride along. `packets` is split 60/40 hot/cold. */
  def burst(packets: Int, batchSize: Int): Seq[Rec] = {
    val hotPackets = packets * 6 / 10
    val perCold = (packets - hotPackets) / cold.size
    val in = Seq.fill(hotPackets * batchSize)(hot) ++
      cold.flatMap(c => Seq.fill(perCold * batchSize)(c))
    val ood = Seq.fill(in.size / 50)(OutOfDomain(rnd.nextInt(OutOfDomain.size)))
    val types = (in ++ ood).toArray
    // seeded Fisher-Yates, so packet contents vary with the seed
    for (i <- types.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = types(i); types(i) = types(j); types(j) = t
    }
    types.toSeq.map(rec)
  }
}
