package ingestbench

import java.util.SplittableRandom

/** Seeded envelope generator. Every envelope the benchmark offers is
  * built here, during set-up, from `--seed` alone: the same seed gives
  * byte-identical envelopes. Key repetition and fan-out follow
  * `spec.json` (`log_mix`, `cdc_mix`).
  */
object Gen {
  // streams of one seed that must not share random draws
  val MeasuredSalt = 1L
  val WarmupSalt = 2L
  val SampleSalt = 3L

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Minimal JSON writer; the oracle parses its output with Jackson. */
  final class Json(sb: java.lang.StringBuilder) {
    private var first = true
    private def key(k: String): Unit = {
      if (!first) sb.append(',')
      first = false
      sb.append('"').append(k).append("\":")
    }
    def str(k: String, v: String): Json = { key(k); quote(v); this }
    def num(k: String, v: Long): Json = { key(k); sb.append(v); this }
    def bool(k: String, v: Boolean): Json = { key(k); sb.append(v); this }
    def obj(k: String)(body: Json => Unit): Json = {
      key(k); sb.append('{'); body(new Json(sb)); sb.append('}'); this
    }
    def arr[A](k: String, xs: Seq[A])(body: (Json, A) => Unit): Json = {
      key(k); sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb.append(',')
        sb.append('{'); body(new Json(sb), x); sb.append('}')
      }
      sb.append(']'); this
    }
    private def quote(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
  }

  def obj(body: Json => Unit): String = {
    val sb = new java.lang.StringBuilder(512)
    sb.append('{'); body(new Json(sb)); sb.append('}')
    sb.toString
  }

  private def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A =
    xs(r.nextInt(xs.length))

  private def pickShare(r: SplittableRandom, shares: Seq[(String, Double)]): String = {
    var u = r.nextDouble() * shares.map(_._2).sum
    shares.find { case (_, s) => u -= s; u < 0 }.getOrElse(shares.last)._1
  }

  // --- gmall app logs ------------------------------------------------

  private val Pages = Vector("home", "good_list", "search", "activity",
    "good_detail", "cart", "trade", "payment", "mine", "orders_unpaid")
  private val Provinces = Vector.tabulate(34)(i => (110000 + i * 10000).toString)
  private val Brands = Vector("Xiaomi", "Huawei", "Apple", "OPPO", "vivo",
    "Honor", "Redmi", "realme", "\u5c0f\u7c73")
  private val Channels = Vector("xiaomi", "wandoujia", "web", "huawei",
    "oppo", "vivo", "360", "Appstore")
  private val Models = Vector("Xiaomi 13", "Mi 10", "iPhone 14", "Huawei P40",
    "Honor 50", "vivo X90", "OPPO Reno8")
  private val Oses = Vector("Android 13.0", "Android 12.0", "Android 11.0",
    "iOS 16.4", "iOS 15.7")
  private val Versions = Vector("v2.1.134", "v2.1.132", "v2.1.111", "v2.0.1")
  private val Keywords = Vector("phone", "laptop", "\u624b\u673a", "tv",
    "headset \"pro\"")
  private val Sources = Vector("promotion", "recommend", "query", "activity")
  private val DisplayTypes = Vector("promotion", "recommend", "query", "activity")
  private val Actions = Vector("favor_add", "cart_add", "get_coupon",
    "cart_add_num", "cart_minus_num", "cart_remove", "trade_add_address")
  private val Entries = Vector("icon", "notice", "install")
  private val BaseTs = 1767225600000L   // 2026-01-01T00:00:00Z

  /** `n` log envelopes with rising `ts`. */
  def logEnvelopes(mix: LogMix, seed: Long, salt: Long, n: Int): Array[String] = {
    val r = rng(seed, salt)
    Array.tabulate(n)(i => logEnvelope(mix, r, BaseTs + i * 37L))
  }

  private def logEnvelope(mix: LogMix, r: SplittableRandom, tsBase: Long): String = {
    val ts = tsBase + r.nextInt(1000)
    val u = r.nextDouble()
    val errPage = u < mix.errorPageShare
    val errStart = !errPage && u < mix.errorPageShare + mix.errorStartShare
    val start = !errPage && !errStart &&
      u < mix.errorPageShare + mix.errorStartShare + mix.startShare
    val bare = !errPage && !errStart && !start && u < mix.errorPageShare +
      mix.errorStartShare + mix.startShare + mix.bareShare
    val page = errPage || (!errStart && !start && !bare)
    obj { j =>
      j.obj("common") { c =>
        c.str("ar", pick(r, Provinces)).str("ba", pick(r, Brands))
          .str("ch", pick(r, Channels)).str("is_new", if (r.nextInt(5) == 0) "1" else "0")
          .str("md", pick(r, Models)).str("mid", "mid_" + (1 + r.nextInt(mix.midDomain)))
          .str("os", pick(r, Oses))
        if (r.nextDouble() < mix.uidShare) c.str("uid", (1 + r.nextInt(mix.uidDomain)).toString)
        c.str("vc", pick(r, Versions))
      }
      if (errPage || errStart) j.obj("err") { e =>
        e.num("error_code", 1001 + r.nextInt(3000))
          .str("msg", " Exception in thread \\  java.net.SocketTimeoutException\n\tat " +
            "com.atguigu.gmall2020.mock.log.bean.AppError.main(AppError.java:" +
            r.nextInt(100000) + ")")
      }
      if (page) {
        val pageId = pick(r, Pages)
        j.obj("page") { p =>
          p.num("during_time", 1000 + r.nextInt(19000))
          pageId match {
            case "good_detail" =>
              p.str("item", (1 + r.nextInt(mix.skuDomain)).toString).str("item_type", "sku_id")
            case "good_list" | "search" =>
              p.str("item", pick(r, Keywords)).str("item_type", "keyword")
            case "trade" | "payment" =>
              p.str("item", Seq.fill(1 + r.nextInt(3))(1 + r.nextInt(mix.skuDomain)).mkString(","))
                .str("item_type", "sku_ids")
            case _ =>
          }
          if (r.nextInt(4) != 0) p.str("last_page_id", pick(r, Pages))
          p.str("page_id", pageId)
          if (r.nextInt(5) < 3) p.str("source_type", pick(r, Sources))
        }
        if (mix.displayPages.contains(pageId)) {
          val nd = r.nextInt(mix.maxDisplays + 1)
          j.arr("displays", 1 to nd) { (d, k) =>
            val dt = pick(r, DisplayTypes)
            d.str("display_type", dt)
              .str("item", (1 + r.nextInt(mix.skuDomain)).toString)
              .str("item_type", if (dt == "activity") "activity_id" else "sku_id")
              .str("order", k.toString).str("pos_id", (1 + r.nextInt(5)).toString)
          }
        }
        if (mix.actionPages.contains(pageId)) {
          val na = r.nextInt(mix.maxActions + 1)
          j.arr("actions", 1 to na) { (a, k) =>
            a.str("action_id", pick(r, Actions))
              .str("item", (1 + r.nextInt(mix.skuDomain)).toString).str("item_type", "sku_id")
              .num("ts", ts - 1000L * k)
          }
        }
      }
      if (start || errStart) j.obj("start") { s =>
        s.str("entry", pick(r, Entries)).num("loading_time", 1000 + r.nextInt(19000))
          .str("open_ad_id", (1 + r.nextInt(20)).toString)
          .num("open_ad_ms", 1000 + r.nextInt(9000))
          .num("open_ad_skip_ms", if (r.nextBoolean()) 0L else 1000L + r.nextInt(4000))
      }
      j.num("ts", ts)
    }
  }

  // --- Maxwell CDC ---------------------------------------------------

  /** Zipf(s) sampler over 1..n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      1 + (if (i >= 0) i else math.min(-i - 1, n - 1))
    }
  }

  /** `n` Maxwell envelopes. Fact inserts get fresh ids; fact updates and
    * deletes reuse an earlier id; dim ids follow the Zipf law.
    */
  def cdcEnvelopes(mix: CdcMix, seed: Long, salt: Long, n: Int): Array[String] = {
    val r = rng(seed, salt)
    val zipf = mix.dimDomain.map { case (t, k) => t -> new Zipf(k, mix.zipfS) }
    val nextId = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    Array.tabulate(n) { i =>
      val table = pickShare(r, mix.tableShares)
      val op = pickShare(r, mix.opShares)
      val id: Long = zipf.get(table) match {
        case Some(z) => z.next(r)
        case None if op == "insert" || op == "bootstrap-insert" || nextId(table) == 0 =>
          nextId(table) += 1; nextId(table)
        case None => 1 + r.nextLong(nextId(table))
      }
      val ts = 1767225600L + i / 50
      obj { j =>
        j.str("database", "gmall").str("table", table).str("type", op).num("ts", ts)
        if (op != "bootstrap-insert") j.num("xid", 100000L + i / 3).bool("commit", i % 3 == 2)
        j.obj("data")(d => cdcRow(d, table, id, r))
        if (op == "update") j.obj("old")(o => o.str("operate_time", "2025-12-31 23:59:59"))
      }
    }
  }

  private def cdcRow(d: Json, table: String, id: Long, r: SplittableRandom): Unit = {
    def money = s"${1 + r.nextInt(5000)}.${r.nextInt(10)}${r.nextInt(10)}"
    def time = f"2026-01-${1 + r.nextInt(28)}%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00"
    d.num("id", id)
    table match {
      case "order_info" =>
        d.num("user_id", 1 + r.nextInt(2000)).str("total_amount", money)
          .str("order_status", pick(r, Vector("1001", "1002", "1004")))
          .str("consignee", "user " + r.nextInt(10000)).str("create_time", time)
      case "order_detail" =>
        d.num("order_id", 1 + r.nextInt(100000)).num("sku_id", 1 + r.nextInt(500))
          .str("sku_name", "sku \"" + r.nextInt(500) + "\"")
          .num("sku_num", 1 + r.nextInt(5)).str("order_price", money)
      case "user_info" =>
        d.str("login_name", "u" + r.nextInt(1000000)).str("nick_name", "\u963f" + r.nextInt(100))
          .str("user_level", (1 + r.nextInt(3)).toString).str("gender", if (r.nextBoolean()) "F" else "M")
          .str("operate_time", time)
      case "sku_info" =>
        d.num("spu_id", 1 + r.nextInt(100)).str("price", money)
          .str("sku_name", "sku " + r.nextInt(500)).num("tm_id", 1 + r.nextInt(20))
          .str("operate_time", time)
      case _ =>
        d.num("user_id", 1 + r.nextInt(2000)).num("sku_id", 1 + r.nextInt(500))
          .str("appraise", pick(r, Vector("1201", "1202", "1203")))
          .str("comment_txt", "fine\tgoods").str("create_time", time)
    }
  }

  /** The pool and warm-up envelopes of one workload. */
  final case class Inputs(pool: Array[String], warmup: Array[String])

  def inputs(spec: Spec, w: WorkloadSpec, seed: Long): Inputs = {
    def make(salt: Long, n: Int): Array[String] =
      if (w.pipeline == "log") logEnvelopes(spec.log, seed, salt, n)
      else cdcEnvelopes(spec.cdc, seed, salt, n)
    Inputs(make(MeasuredSalt, w.poolEnvelopes), make(WarmupSalt, w.warmupEnvelopes))
  }
}
