package graft.streaming

import org.apache.spark.sql.SparkSession

/** The reference's continuous views as `INSERT INTO` statements, each
  * maintained through [[SqlInsert.viewDef]] like a statement issued on a
  * [[CdcSqlSession]]. `order_view` is the reference's own text
  * (flink-ddl.sql:179-190); the others are Spark SQL forms of
  * flink-ddl.sql:111-259 whose documents carry the sink's dotted field
  * names. `user_order_stats_view` is keyed by (user, day) so each group
  * is its own document; `user_totals` merges per-user order totals into
  * the shared `user_view` index (flink-ddl.sql:143,165). */
object ReferenceSql {

  /** One statement with its sink's primary key and declared index. */
  private final case class Stmt(insert: String, key: Seq[String] = Seq("id"),
      index: String = null) {
    val (target, select) = SqlInsert.parse(insert).get
  }

  private val statements: Map[String, Stmt] = Seq(
    Stmt("""INSERT INTO order_view
           |SELECT orders.id id,
           |       orders.amount `order.amount`,
           |       orders.status `order.status`,
           |       orders.channel `order.channel`,
           |       users.name `user.name`,
           |       users.age `user.age`,
           |       orders.ctime ctime,
           |       orders.utime utime
           |FROM orders
           |JOIN users
           |ON orders.user_id = users.id;""".stripMargin),
    Stmt("INSERT INTO user_view SELECT id, name, age, ctime, utime FROM users"),
    Stmt("INSERT INTO product_view SELECT id, name, price, ctime, utime FROM products"),
    Stmt("""INSERT INTO user_order_stats_view
           |SELECT user_id, date_format(ctime, 'yyyy-MM-dd') cday,
           |       SUM(amount) `order.amount.day`, COUNT(*) `order.count.day`
           |FROM orders WHERE status <> 'closed'
           |GROUP BY user_id, date_format(ctime, 'yyyy-MM-dd')""".stripMargin,
      key = Seq("user_id", "cday")),
    Stmt("""INSERT INTO order_stats_view
           |SELECT date_format(ctime, 'yyyy-MM-dd') id, SUM(amount) amount,
           |       COUNT(*) cnt
           |FROM orders WHERE status <> 'closed'
           |GROUP BY date_format(ctime, 'yyyy-MM-dd')""".stripMargin),
    Stmt("""INSERT INTO user_totals
           |SELECT user_id id, SUM(amount) `order.amount.total`,
           |       COUNT(*) `order.count.total`
           |FROM orders WHERE status <> 'closed' GROUP BY user_id""".stripMargin,
      index = "user_view"),
    Stmt("""INSERT INTO product_stats_view
           |SELECT order_items.product_id id, COUNT(*) quantity,
           |       SUM(order_items.amount) amount
           |FROM order_items JOIN orders ON order_items.order_id = orders.id
           |WHERE orders.status <> 'closed'
           |GROUP BY order_items.product_id""".stripMargin),
    Stmt("""INSERT INTO order_view_items
           |SELECT order_id id,
           |       array_join(array_sort(collect_list(CAST(product_id AS STRING))),
           |                  ',') `order.item_csv`,
           |       array_sort(collect_list(named_struct('product.id', product_id,
           |         'price', price, 'quantity', quantity))) `order.items`
           |FROM order_items GROUP BY order_id""".stripMargin,
      index = "order_view")).map(s => s.target -> s).toMap

  /** The reference's source tables, the names a statement's FROM reads. */
  private val tables = Seq("orders", "users", "order_items", "products")

  /** The named statement's view; `index` overrides the sink index it
    * declares. */
  def view(spark: SparkSession, name: String, index: String = null): ViewDef = {
    val stmt = statements(name)
    SqlInsert.viewDef(spark, name, stmt.select, tables, stmt.key,
      index = Option(index).getOrElse(stmt.index))
  }

  def views(spark: SparkSession, names: String*): Seq[ViewDef] =
    names.map(view(spark, _))
}
