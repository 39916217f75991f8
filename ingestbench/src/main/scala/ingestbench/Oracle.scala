package ingestbench

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** 64-bit record hash shared by the sinks and the oracle: two seeded
  * MurmurHash3 passes over the UTF-8 bytes of topic and value.
  */
object RecordHash {
  def apply(topic: Array[Byte], value: Array[Byte]): Long = {
    val hi = MurmurHash3.bytesHash(value, MurmurHash3.bytesHash(topic, 0x3c6ef372))
    val lo = MurmurHash3.bytesHash(value, MurmurHash3.bytesHash(topic, 0x1b873593))
    (hi.toLong << 32) | (lo & 0xffffffffL)
  }
  def apply(topic: String, value: String): Long =
    apply(topic.getBytes(UTF_8), value.getBytes(UTF_8))
}

/** Expected output of a run of envelopes: per envelope, the hashes of
  * the records it must produce (`hashes(offsets(i)) until offsets(i+1)`)
  * and, for CDC, the dim write it makes (`dimKeys(i)` null if none).
  * `threadSeconds` is the summed time of the single-threaded workers.
  */
final class Expected(val offsets: Array[Int], val hashes: Array[Long],
    val topics: Array[String], val dimKeys: Array[String],
    val dimValues: Array[String], val threadSeconds: Double) {
  def singleThreadEps: Double = (offsets.length - 1) / threadSeconds
}

/** Independent single-threaded reference for both pipelines, written
  * from the reference application's routing rules with Jackson; it
  * never calls graft code. Output records are serialized the way a
  * JSON row writer does: bean field order, absent and null fields
  * left out, non-string JSON scalars in string fields kept as their
  * JSON text.
  */
object Oracle {
  private val mapper = new ObjectMapper()
  private val factory = mapper.getFactory

  val ErrorTopic = "DWD_ERROR_LOG"
  val PageTopic = "DWD_PAGE_LOG"
  val DisplayTopic = "DWD_PAGE_DISPLAY"
  val ActionTopic = "DWD_PAGE_ACTION"
  val StartTopic = "DWD_START_LOG"

  private def present(n: JsonNode): Boolean = n != null && !n.isNull && !n.isMissingNode

  private def writeJson(body: JsonGenerator => Unit): String = {
    val w = new java.io.StringWriter(512)
    val g = factory.createGenerator(w)
    g.writeStartObject(); body(g); g.writeEndObject(); g.close()
    w.toString
  }

  private def str(g: JsonGenerator, name: String, n: JsonNode): Unit =
    if (present(n)) g.writeStringField(name, if (n.isTextual) n.asText else n.toString)

  private def long(g: JsonGenerator, name: String, n: JsonNode): Unit =
    if (present(n)) {
      require(n.isIntegralNumber, s"$name: expected an integer, got $n")
      g.writeNumberField(name, n.asLong)
    }

  // common (bean order) and page projections shared by four branches
  private val CommonFields = Seq("mid" -> "mid", "user_id" -> "uid",
    "province_id" -> "ar", "channel" -> "ch", "is_new" -> "is_new",
    "model" -> "md", "operate_system" -> "os", "version_code" -> "vc",
    "brand" -> "ba")

  private def common(g: JsonGenerator, env: JsonNode): Unit = {
    val c = env.get("common")
    CommonFields.foreach { case (out, in) => str(g, out, if (present(c)) c.get(in) else null) }
  }

  private def page(g: JsonGenerator, p: JsonNode): Unit = {
    str(g, "page_id", p.get("page_id")); str(g, "last_page_id", p.get("last_page_id"))
    str(g, "page_item", p.get("item")); str(g, "page_item_type", p.get("item_type"))
    long(g, "during_time", p.get("during_time")); str(g, "source_type", p.get("source_type"))
  }

  /** The (topic, value) records one log envelope demuxes to. */
  def logRecords(envelope: String): Seq[(String, String)] = {
    val env = mapper.readTree(envelope)
    val ts = env.get("ts")
    val out = mutable.ArrayBuffer.empty[(String, String)]
    val err = env.get("err")
    if (present(err)) {
      val c = env.get("common")
      out += ErrorTopic -> writeJson { g =>
        str(g, "mid", if (present(c)) c.get("mid") else null)
        long(g, "error_code", err.get("error_code")); str(g, "msg", err.get("msg"))
        long(g, "ts", ts)
      }
      return out.toSeq
    }
    val p = env.get("page")
    if (present(p)) {
      out += PageTopic -> writeJson { g => common(g, env); page(g, p); long(g, "ts", ts) }
      val ds = env.get("displays")
      if (present(ds)) ds.elements.asScala.foreach { d =>
        out += DisplayTopic -> writeJson { g =>
          common(g, env); page(g, p)
          str(g, "display_type", d.get("display_type")); str(g, "display_item", d.get("item"))
          str(g, "display_item_type", d.get("item_type")); str(g, "display_order", d.get("order"))
          str(g, "display_pos_id", d.get("pos_id")); long(g, "ts", ts)
        }
      }
      val as = env.get("actions")
      if (present(as)) as.elements.asScala.foreach { a =>
        out += ActionTopic -> writeJson { g =>
          common(g, env); page(g, p)
          str(g, "action_id", a.get("action_id")); str(g, "action_item", a.get("item"))
          str(g, "action_item_type", a.get("item_type")); long(g, "action_ts", a.get("ts"))
          long(g, "ts", ts)
        }
      }
    }
    val s = env.get("start")
    if (present(s)) out += StartTopic -> writeJson { g =>
      common(g, env)
      str(g, "entry", s.get("entry")); str(g, "open_ad_id", s.get("open_ad_id"))
      long(g, "loading_time_ms", s.get("loading_time")); long(g, "open_ad_ms", s.get("open_ad_ms"))
      long(g, "open_ad_skip_ms", s.get("open_ad_skip_ms")); long(g, "ts", ts)
    }
    out.toSeq
  }

  /** A Maxwell row payload as a string map, in key order. */
  private def rowJson(data: JsonNode): String = writeJson { g =>
    data.fields.asScala.foreach { e =>
      val v = e.getValue
      if (v.isNull) g.writeNullField(e.getKey)
      else g.writeStringField(e.getKey, if (v.isTextual) v.asText else v.toString)
    }
  }

  /** Fact record and dim write of one Maxwell envelope. */
  final case class CdcOut(fact: Option[(String, String)], dim: Option[(String, String)])

  def cdcRecord(envelope: String, facts: Set[String], dims: Set[String]): CdcOut = {
    val env = mapper.readTree(envelope)
    val table = env.path("table").asText(null)
    val op = env.path("type").asText("") match {
      case "bootstrap-insert" | "insert" => "I"
      case "update" => "U"
      case _ => null
    }
    val data = env.get("data")
    if (op == null || table == null || !present(data)) return CdcOut(None, None)
    val fact = if (facts(table)) Some(s"${table.toUpperCase(java.util.Locale.ROOT)}_$op" -> rowJson(data)) else None
    val dim = if (dims(table) && present(data.get("id")))
      Some(dimKey(table, data.get("id").asText) -> rowJson(data)) else None
    CdcOut(fact, dim)
  }

  def dimKey(table: String, id: String): String = table + "\u0000" + id

  /** Expected output of `envelopes`, one entry per envelope. The
    * envelopes are split over `threads` workers, each a single-threaded
    * pass of the reference; only the checking is parallel.
    */
  def expected(envelopes: Array[String], pipeline: String, spec: Spec,
      threads: Int = 1): Expected = {
    val n = envelopes.length
    val recs = new Array[Seq[(String, Long)]](n)
    val dimKeys = new Array[String](n)
    val dimValues = new Array[String](n)
    val facts = spec.cdc.factTables.toSet
    val dims = spec.cdc.dimTables.toSet
    val busyNs = new java.util.concurrent.atomic.AtomicLong
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        val t0 = System.nanoTime()
        var i = t * n / threads
        while (i < (t + 1) * n / threads) {
          val out = if (pipeline == "log") logRecords(envelopes(i)) else {
            val o = cdcRecord(envelopes(i), facts, dims)
            o.dim.foreach { case (k, v) => dimKeys(i) = k; dimValues(i) = v }
            o.fact.toSeq
          }
          recs(i) = out.map { case (t, v) => t -> RecordHash(t, v) }
          i += 1
        }
        busyNs.addAndGet(System.nanoTime() - t0)
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    val offsets = recs.scanLeft(0)(_ + _.size)
    val flat = recs.iterator.flatten.toArray
    new Expected(offsets, flat.map(_._2), flat.map(_._1),
      dimKeys, dimValues, busyNs.get / 1e9)
  }
}

/** Outcome of comparing a run's output with the oracle. */
final case class CheckResult(
    offered: Long,
    failedEnvelopes: Long,   // envelopes with an expected record missing
    extraRecords: Long,      // emitted records no envelope accounts for
    dimWrong: Long,          // dim keys missing, stale or unexpected
    expectedTopics: Map[String, (Long, Long)],  // topic -> (count, checksum)
    actualTopics: Map[String, (Long, Long)]) {
  def failed: Long = math.min(offered, math.max(failedEnvelopes, extraRecords) + dimWrong)
}

object Check {
  /** Compares the records of `offered` envelopes, drawn cyclically from
    * the pool described by `exp`, with the emitted record hashes and
    * (for CDC) the final dim store.
    */
  def apply(exp: Expected, offered: Long, emitted: Array[Long],
      actualTopics: Map[String, (Long, Long)],
      dimStore: Option[collection.Map[String, String]]): CheckResult = {
    val counts = mutable.HashMap.empty[Long, Int]
    emitted.foreach(h => counts(h) = counts.getOrElse(h, 0) + 1)
    val pool = exp.offsets.length - 1
    var failed = 0L
    val expTopics = mutable.Map.empty[String, (Long, Long)]
    val snapshot = mutable.HashMap.empty[String, String]
    var k = 0L
    while (k < offered) {
      val i = (k % pool).toInt
      var ok = true
      var j = exp.offsets(i)
      while (j < exp.offsets(i + 1)) {
        val h = exp.hashes(j)
        val c = counts.getOrElse(h, 0)
        if (c == 0) ok = false else counts(h) = c - 1
        val (n, s) = expTopics.getOrElse(exp.topics(j), (0L, 0L))
        expTopics(exp.topics(j)) = (n + 1, s + h)
        j += 1
      }
      if (!ok) failed += 1
      if (exp.dimKeys(i) != null) snapshot(exp.dimKeys(i)) = exp.dimValues(i)
      k += 1
    }
    val extra = counts.values.map(_.toLong).sum
    val dimWrong = dimStore.map { store =>
      (snapshot.keySet ++ store.keySet).count(key => snapshot.get(key) != store.get(key)).toLong
    }.getOrElse(0L)
    CheckResult(offered, failed, extra, dimWrong, expTopics.toMap, actualTopics)
  }
}
