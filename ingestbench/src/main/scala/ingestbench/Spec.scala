package ingestbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Settings of one workload, read from `ingestbench/spec.json`. */
final case class WorkloadSpec(
    name: String,
    pipeline: String,       // "log" or "cdc"
    closedLoop: Boolean,
    batchEnvelopes: Int,    // closed loop: envelopes per micro-batch
    rateEps: Double,        // open loop: offered envelopes per second
    addEveryMs: Int,        // open loop: generator wake-up period
    poolEnvelopes: Int,
    warmupEnvelopes: Int)

final case class LogMix(
    startShare: Double, errorPageShare: Double, errorStartShare: Double,
    bareShare: Double, maxDisplays: Int, maxActions: Int,
    displayPages: Set[String], actionPages: Set[String],
    midDomain: Int, uidShare: Double, uidDomain: Int, skuDomain: Int)

final case class CdcMix(
    factTables: Seq[String], dimTables: Seq[String],
    tableShares: Seq[(String, Double)], opShares: Seq[(String, Double)],
    zipfS: Double, dimDomain: Map[String, Int])

final case class Spec(
    workloads: Map[String, WorkloadSpec],
    log: LogMix,
    cdc: CdcMix)

object Spec {
  def load(path: String): Spec = parse(
    new ObjectMapper().readTree(new java.io.File(path)))

  def parse(root: JsonNode): Spec = {
    def strs(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
    def shares(n: JsonNode): Seq[(String, Double)] =
      n.fields.asScala.map(e => e.getKey -> e.getValue.asDouble).toSeq
    val ws = root.get("workloads").fields.asScala.map { e =>
      val w = e.getValue
      e.getKey -> WorkloadSpec(
        name = e.getKey,
        pipeline = w.get("pipeline").asText,
        closedLoop = w.get("loop").asText == "closed",
        batchEnvelopes = w.path("batch_envelopes").asInt(0),
        rateEps = w.path("rate_eps").asDouble(0),
        addEveryMs = w.path("add_every_ms").asInt(0),
        poolEnvelopes = w.get("pool_envelopes").asInt,
        warmupEnvelopes = w.get("warmup_envelopes").asInt)
    }.toMap
    val l = root.get("log_mix")
    val c = root.get("cdc_mix")
    Spec(
      workloads = ws,
      log = LogMix(
        startShare = l.get("start_share").asDouble,
        errorPageShare = l.get("error_page_share").asDouble,
        errorStartShare = l.get("error_start_share").asDouble,
        bareShare = l.get("bare_share").asDouble,
        maxDisplays = l.get("max_displays").asInt,
        maxActions = l.get("max_actions").asInt,
        displayPages = strs(l.get("display_pages")).toSet,
        actionPages = strs(l.get("action_pages")).toSet,
        midDomain = l.get("mid_domain").asInt,
        uidShare = l.get("uid_share").asDouble,
        uidDomain = l.get("uid_domain").asInt,
        skuDomain = l.get("sku_domain").asInt),
      cdc = CdcMix(
        factTables = strs(c.get("fact_tables")),
        dimTables = strs(c.get("dim_tables")),
        tableShares = shares(c.get("table_shares")),
        opShares = shares(c.get("op_shares")),
        zipfS = c.get("zipf_s").asDouble,
        dimDomain = c.get("dim_domain").fields.asScala
          .map(e => e.getKey -> e.getValue.asInt).toMap))
  }
}
