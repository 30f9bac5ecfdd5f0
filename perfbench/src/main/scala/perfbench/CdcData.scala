package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** The four source tables of the reference shop (orders, order_items,
  * products, users) as a seeded in-memory model, rendered as Debezium
  * MySQL envelopes in replay dump files.
  *
  * Rows follow a TPC-H-shaped generator scaled by `sf` (sf = 1 would be
  * 150k users, 200k products, 1.5M orders): customer → users,
  * part → products, orders → orders, lineitem → order_items. Amounts and
  * prices are whole numbers because the reference declares them as
  * `DECIMAL` (= DECIMAL(10,0)).
  *
  * The model is also the correctness oracle: after a run, the sink must
  * equal a batch recompute of every statement over the model's final
  * rows (latest row per key of the valid changelog). */
object CdcData {
  final case class User(id: String, name: String, age: Int, ctime: String,
      utime: String)
  final case class Product(id: String, name: String, price: Long,
      ctime: String, utime: String)
  final case class Order(id: String, userId: String, amount: Long,
      status: String, channel: String, ctime: String, utime: String)
  final case class Item(id: String, orderId: String, productId: String,
      quantity: Long, price: Long, amount: Long, ctime: String, utime: String)

  /** One change event: its topic table, its scheduled creation time as
    * an offset from the stream start, and the envelope text. */
  final case class Event(table: String, offsetMs: Long, json: String)

  /** Debezium `ts_ms` of every event is `EpochMs + offsetMs`: a fixed
    * epoch keeps dump files byte-identical for a seed, and the harness
    * maps the epoch onto the wall clock of the run. */
  val EpochMs = 1609459200000L // 2021-01-01T00:00:00Z

  val Topics: Map[String, String] = Map(
    "users" -> "crm.users", "products" -> "ec.products",
    "orders" -> "ec.orders", "order_items" -> "ec.order_items")

  private val statuses = Vector("created", "payed", "shipped")
  private val channels = Vector("wechat", "alipay", "web", "app")
  private val adjectives = Vector("small", "large", "red", "blue", "hot",
    "cold", "old", "new")
  private val nouns = Vector("bolt", "gear", "ring", "rod", "plate",
    "widget", "anvil", "gizmo")

  private val dayMs = 86400000L
  private val orderEpoch = 788918400000L // 1995-01-01
  private def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  /** Power-law ranks over n slots (continuous Zipf inverse CDF, s = 1.1):
    * low ranks are hot, so compaction sees same-key duplicates. */
  def zipf(rnd: java.util.SplittableRandom, n: Int): Int = {
    val s = 1.1
    val u = rnd.nextDouble()
    val a = math.pow(n + 1.0, 1 - s)
    val x = math.pow((a - 1) * u + 1, 1 / (1 - s))
    math.min(n - 1, math.max(0, x.toInt - 1))
  }

  /** A key list with O(1) removal (swap-remove) for skewed sampling. */
  final class Keys {
    private val buf = mutable.ArrayBuffer.empty[String]
    private val pos = mutable.HashMap.empty[String, Int]
    def add(k: String): Unit = { pos(k) = buf.length; buf += k }
    def remove(k: String): Unit = pos.remove(k).foreach { i =>
      val last = buf.remove(buf.length - 1)
      if (last != k) { buf(i) = last; pos(last) = i }
    }
    def size: Int = buf.length
    def apply(i: Int): String = buf(i)
    def shuffle(rnd: java.util.SplittableRandom): Unit = {
      var i = buf.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = buf(i); buf(i) = buf(j); buf(j) = t
        pos(buf(i)) = i; pos(buf(j)) = j
        i -= 1
      }
    }
  }

  /** Final-state model of the four tables. */
  final class Model {
    val users = mutable.LinkedHashMap.empty[String, User]
    val products = mutable.LinkedHashMap.empty[String, Product]
    val orders = mutable.LinkedHashMap.empty[String, Order]
    val items = mutable.LinkedHashMap.empty[String, Item]
    val itemsByOrder = mutable.HashMap.empty[String, mutable.LinkedHashSet[String]]
    /** Items per product whose order exists and is not closed — what
      * `product_stats_view` aggregates. */
    val liveItems = mutable.HashMap.empty[String, Int].withDefaultValue(0)

    def live(o: Order): Boolean = o.status != "closed"
    def addItem(i: Item): Unit = {
      items(i.id) = i
      itemsByOrder.getOrElseUpdate(i.orderId, mutable.LinkedHashSet.empty) += i.id
      if (orders.get(i.orderId).exists(live)) liveItems(i.productId) += 1
    }
    def removeItem(id: String): Unit = items.remove(id).foreach { i =>
      itemsByOrder.get(i.orderId).foreach(_ -= id)
      if (orders.get(i.orderId).exists(live)) liveItems(i.productId) -= 1
    }
    def setOrder(o: Order): Unit = {
      val before = orders.get(o.id).exists(live)
      orders(o.id) = o
      if (before != live(o)) orderItems(o.id).foreach { i =>
        liveItems(i.productId) += (if (live(o)) 1 else -1)
      }
    }
    def orderItems(id: String): Seq[Item] =
      itemsByOrder.get(id).toSeq.flatMap(_.toSeq).map(items)
    /** Whether taking these items out of the live set keeps every product
      * that has a live item with at least one. A product's stats document
      * shares the product's index, and the ES delete that would follow
      * removes the whole shared document — a final index that depends on
      * batch boundaries, so the change stream never produces it. */
    def canRetire(its: Seq[Item]): Boolean =
      its.groupBy(_.productId).forall { case (p, xs) => liveItems(p) > xs.size }
  }

  // ---- envelope rendering ----

  private def q(s: String) = Json.str(s)
  def userImg(u: User): String =
    s"""{"id":${q(u.id)},"name":${q(u.name)},"age":${u.age},"ctime":${q(u.ctime)},"utime":${q(u.utime)}}"""
  def productImg(p: Product): String =
    s"""{"id":${q(p.id)},"name":${q(p.name)},"price":${p.price},"ctime":${q(p.ctime)},"utime":${q(p.utime)}}"""
  def orderImg(o: Order): String =
    s"""{"id":${q(o.id)},"user_id":${q(o.userId)},"amount":${o.amount},"status":${q(o.status)},"channel":${q(o.channel)},"ctime":${q(o.ctime)},"utime":${q(o.utime)}}"""
  def itemImg(i: Item): String =
    s"""{"id":${q(i.id)},"order_id":${q(i.orderId)},"product_id":${q(i.productId)},"quantity":${i.quantity},"price":${i.price},"amount":${i.amount},"ctime":${q(i.ctime)},"utime":${q(i.utime)}}"""

  def envelope(table: String, op: String, before: String, after: String,
      offsetMs: Long): String = {
    val db = if (table == "users") "crm" else "ec"
    val ts = EpochMs + offsetMs
    val snap = if (op == "r") "true" else "false"
    s"""{"before":${Option(before).getOrElse("null")},"after":${Option(after).getOrElse("null")},"source":{"name":"shard1","db":"$db","table":"$table","ts_ms":$ts,"snapshot":"$snap"},"op":"$op","ts_ms":$ts}"""
  }

  // ---- snapshot ----

  /** TPC-H-shaped rows at scale `sf`, every order with 1-7 lines. */
  def snapshot(seed: Long, sf: Double): Model = {
    val rnd = new java.util.SplittableRandom(seed * 7919 + 17)
    val m = new Model
    val nUsers = math.max(10, (150000 * sf).toInt)
    val nProducts = math.max(10, (200000 * sf).toInt)
    val nOrders = math.max(10, (1500000 * sf).toInt)
    val t0 = iso(EpochMs - 30 * dayMs)
    (0 until nUsers).foreach { i =>
      val id = s"u$i"
      m.users(id) = User(id, f"Customer#$i%09d", 18 + rnd.nextInt(60), t0, t0)
    }
    (0 until nProducts).foreach { i =>
      val id = s"p$i"
      val name = s"${adjectives(rnd.nextInt(adjectives.size))} " +
        nouns(rnd.nextInt(nouns.size))
      m.products(id) = Product(id, name, 900 + rnd.nextInt(100), t0, t0)
    }
    (0 until nOrders).foreach { i =>
      val id = s"o$i"
      val day = orderEpoch + rnd.nextInt(2400) * dayMs
      val ts = iso(day)
      val status =
        if (rnd.nextInt(10) == 0) "closed" else statuses(rnd.nextInt(3))
      val o = Order(id, s"u${rnd.nextInt(nUsers)}", 1000 + rnd.nextInt(499000),
        status, channels(rnd.nextInt(channels.size)), ts, ts)
      m.orders(id) = o
      // line counts cycle 1..7 (mean 4), so sizes do not depend on the seed
      val lines = 1 + (i * 5) % 7
      (1 to lines).foreach { l =>
        val p = m.products(s"p${rnd.nextInt(nProducts)}")
        val qty = 1L + rnd.nextInt(50)
        m.addItem(Item(s"i${i}_$l", id, p.id, qty, p.price, qty * p.price, ts, ts))
      }
    }
    m
  }

  /** The snapshot as Debezium read events (`op = r`), users first. */
  def snapshotEvents(m: Model): Seq[Event] =
    m.users.values.map(u => Event("users",
      0, envelope("users", "r", null, userImg(u), 0))).toSeq ++
    m.products.values.map(p => Event("products",
      0, envelope("products", "r", null, productImg(p), 0))) ++
    m.orders.values.map(o => Event("orders",
      0, envelope("orders", "r", null, orderImg(o), 0))) ++
    m.items.values.map(i => Event("order_items",
      0, envelope("order_items", "r", null, itemImg(i), 0)))

  // ---- change stream ----

  /** Share of each change kind, in percent of operations. */
  val Mix: Seq[(String, Double)] = Seq(
    "order_update" -> 30, "order_delete" -> 3, "order_create" -> 12,
    "item_update" -> 20, "item_delete" -> 5, "user_update" -> 15,
    "product_update" -> 14.5, "corrupt" -> 0.5)

  final case class Changes(events: IndexedSeq[Event], ops: Map[String, Int],
      corrupt: Int, touched: IndexedSeq[String])

  /** Exactly `n` change events at `rate` events/s, applied to `m`.
    * Orders are deleted together with their items; an item is deleted
    * only while its order keeps another; no change retires a product's
    * last live item (see [[Model.canRetire]]). Corrupt envelopes are
    * truncated JSON and never touch the model. */
  def changes(m: Model, seed: Long, n: Int, rate: Double): Changes = {
    val rnd = new java.util.SplittableRandom(seed * 104729 + 3)
    val orderKeys = new Keys; m.orders.keys.foreach(orderKeys.add)
    val itemKeys = new Keys; m.items.keys.foreach(itemKeys.add)
    val userKeys = new Keys; m.users.keys.foreach(userKeys.add)
    val productKeys = new Keys; m.products.keys.foreach(productKeys.add)
    Seq(orderKeys, itemKeys, userKeys, productKeys).foreach(_.shuffle(rnd))
    val total = Mix.map(_._2).sum
    val out = mutable.ArrayBuffer.empty[Event]
    val ops = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
    val touched = mutable.ArrayBuffer.empty[String]
    var corrupt = 0
    var nextOrder = m.orders.size + 1000000
    def at(k: Int): Long = ((out.length + k) * 1000.0 / rate).toLong
    def stamp(k: Int): String = iso(EpochMs + at(k))
    def emit(table: String, op: String, before: String, after: String): Unit = {
      val off = at(0)
      out += Event(table, off, envelope(table, op, before, after, off))
    }

    while (out.length < n) {
      val room = n - out.length
      val r = rnd.nextDouble() * total
      var acc = 0.0
      val kind = Mix.find { case (_, w) => acc += w; r < acc }.map(_._1)
        .getOrElse("user_update")
      val done: Boolean = kind match {
        case "order_update" if orderKeys.size > 0 =>
          val o = m.orders(orderKeys(zipf(rnd, orderKeys.size)))
          val flip = rnd.nextInt(10) < 3
          val next =
            if (flip && m.live(o)) o.copy(status = "closed")
            else if (flip) o.copy(status = statuses(rnd.nextInt(3)))
            else if (rnd.nextBoolean())
              o.copy(amount = math.max(1L, o.amount + rnd.nextInt(2001) - 1000))
            else o.copy(status = statuses(rnd.nextInt(3)))
          if (m.live(o) && !m.live(next) && !m.canRetire(m.orderItems(o.id))) false
          else {
            val n2 = next.copy(utime = stamp(0))
            emit("orders", "u", orderImg(o), orderImg(n2))
            m.setOrder(n2); touched += o.id; true
          }
        case "order_delete" if orderKeys.size > 0 =>
          val o = m.orders(orderKeys(zipf(rnd, orderKeys.size)))
          val its = m.orderItems(o.id)
          if (its.size + 1 > room || (m.live(o) && !m.canRetire(its))) false
          else {
            its.foreach { i =>
              emit("order_items", "d", itemImg(i), null)
              m.removeItem(i.id); itemKeys.remove(i.id)
            }
            emit("orders", "d", orderImg(o), null)
            m.orders.remove(o.id); m.itemsByOrder.remove(o.id)
            orderKeys.remove(o.id); touched += o.id; true
          }
        case "order_create" =>
          val lines = 1 + rnd.nextInt(3)
          if (lines + 1 > room) false
          else {
            val id = s"o$nextOrder"; nextOrder += 1
            val ts = stamp(0)
            val o = Order(id, userKeys(zipf(rnd, userKeys.size)),
              1000 + rnd.nextInt(499000), statuses(rnd.nextInt(3)),
              channels(rnd.nextInt(channels.size)), ts, ts)
            emit("orders", "c", null, orderImg(o))
            m.setOrder(o); orderKeys.add(id)
            (1 to lines).foreach { l =>
              val p = m.products(productKeys(zipf(rnd, productKeys.size)))
              val qty = 1L + rnd.nextInt(50)
              val i = Item(s"i${id}_$l", id, p.id, qty, p.price, qty * p.price,
                ts, ts)
              emit("order_items", "c", null, itemImg(i))
              m.addItem(i); itemKeys.add(i.id)
            }
            touched += id; true
          }
        case "item_update" if itemKeys.size > 0 =>
          val i = m.items(itemKeys(zipf(rnd, itemKeys.size)))
          val qty = 1L + rnd.nextInt(50)
          val n2 = i.copy(quantity = qty, amount = qty * i.price,
            utime = stamp(0))
          emit("order_items", "u", itemImg(i), itemImg(n2))
          m.items(i.id) = n2; touched += i.id; true
        case "item_delete" if itemKeys.size > 0 =>
          val i = m.items(itemKeys(zipf(rnd, itemKeys.size)))
          val orderLive = m.orders.get(i.orderId).exists(m.live)
          if (m.itemsByOrder(i.orderId).size < 2 ||
              (orderLive && !m.canRetire(Seq(i)))) false
          else {
            emit("order_items", "d", itemImg(i), null)
            m.removeItem(i.id); itemKeys.remove(i.id); touched += i.id; true
          }
        case "user_update" =>
          val u = m.users(userKeys(zipf(rnd, userKeys.size)))
          val n2 =
            if (rnd.nextBoolean()) u.copy(age = u.age + 1, utime = stamp(0))
            else u.copy(name = s"${u.name.takeWhile(_ != '~')}~${rnd.nextInt(1000)}",
              utime = stamp(0))
          emit("users", "u", userImg(u), userImg(n2))
          m.users(u.id) = n2; touched += u.id; true
        case "product_update" =>
          val p = m.products(productKeys(zipf(rnd, productKeys.size)))
          val n2 = p.copy(price = 900 + rnd.nextInt(100), utime = stamp(0))
          emit("products", "u", productImg(p), productImg(n2))
          m.products(p.id) = n2; touched += p.id; true
        case "corrupt" =>
          val o = m.orders(orderKeys(zipf(rnd, orderKeys.size)))
          val off = at(0)
          val full = envelope("orders", "u", orderImg(o), orderImg(o), off)
          out += Event("orders", off, full.take(full.length / 2))
          corrupt += 1; true
        case _ => false
      }
      if (done) ops(kind) += 1
    }
    Changes(out.toIndexedSeq, ops.toMap, corrupt, touched.toIndexedSeq)
  }

  // ---- replay dump layout ----

  /** File name of a dump file: `<part>.<db>.<table>.jsonl`. The replay
    * source's topic is the name minus `.jsonl`, the pipeline's table its
    * last segment, and its offsets run over files in name order — so
    * every appended part must sort after the ones before it. */
  def fileName(part: Int, table: String): String =
    f"$part%08d.${Topics(table)}.jsonl"

  final case class DumpFile(part: Int, name: String, bytes: Array[Byte],
      events: Seq[Int])

  /** Events grouped into dump parts: part `first + k` holds the events
    * scheduled in tick k (`tickMs` wide); within a part one file per
    * table, events in generation order. Files come in the order they
    * sort, each with the indexes of the events it holds — so an event's
    * replay offset is its position in the concatenation. */
  def layout(events: IndexedSeq[Event], first: Int, tickMs: Long)
      : IndexedSeq[DumpFile] =
    events.indices.groupBy(i => first + (events(i).offsetMs / tickMs).toInt)
      .toIndexedSeq.sortBy(_._1).flatMap { case (part, idxs) =>
        idxs.groupBy(i => events(i).table).toSeq.map { case (t, xs) =>
          val sorted = xs.sorted
          DumpFile(part, fileName(part, t),
            sorted.map(events(_).json).mkString("", "\n", "\n")
              .getBytes(UTF_8), sorted)
        }.sortBy(_.name)
      }

  /** A dump directory the replay source reads through a symbolic link,
    * so that a set of files appears in one step: each publication builds
    * the next version of the directory (hard links to the files already
    * published plus the new ones) and swaps the link to it. Moving files
    * in one by one let the source, polling while idle, list the first
    * files of a tick without the rest — a split batch in one run of
    * five. */
  final class DumpDir(val path: Path) {
    private var version = 0
    private def versionDir(v: Int) =
      path.resolveSibling(s"${path.getFileName}.v$v")

    def publish(files: Seq[DumpFile]): Unit = {
      val next = versionDir(version + 1)
      Files.createDirectories(next)
      if (version > 0) {
        val prev = Files.list(versionDir(version))
        try prev.forEach(f => Files.createLink(next.resolve(f.getFileName), f))
        finally prev.close()
      }
      files.foreach(f => Files.write(next.resolve(f.name), f.bytes))
      val link = path.resolveSibling(s"${path.getFileName}.link")
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, next.getFileName)
      Files.move(link, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      version += 1
    }
  }
}
