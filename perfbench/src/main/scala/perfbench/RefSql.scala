package perfbench

/** The reference shop's DDL and its seven continuous `INSERT INTO`
  * statements, issued through `Engine.sql` exactly as a user would.
  *
  * Source DDL, `order_view` and its INSERT are the reference text the
  * repository's DDL tests quote verbatim; the other statements follow
  * the operator inventory (projection, LISTAGG, the salted two-level
  * aggregations, the fact-to-fact join). One deliberate difference:
  * `user_order_stats_view` is keyed by (user, day). The reference keys
  * it by user alone, which makes a user's days overwrite one another in
  * the shared `user_view` index in whatever order the bulk arrives, so
  * no recompute could be compared with it. */
object RefSql {
  private def cdc(table: String, db: String): String =
    s"""WITH (
       |  'connector' = 'mysql-cdc',
       |  'hostname' ='mysql',
       |  'port' = '3306',
       |  'username' ='root',
       |  'password' ='debezium',
       |  'database-name' ='$db',
       |  'table-name' ='$table'
       |)""".stripMargin

  private def es(index: String): String =
    s"""WITH (
       |  'connector' = 'elasticsearch-7',
       |  'hosts' = 'http://elasticsearch:9200',
       |  'index' = '$index'
       |)""".stripMargin

  val sources: Seq[String] = Seq(
    s"""CREATE TABLE orders (
       |  id STRING,
       |  user_id STRING,
       |  amount DECIMAL,
       |  status STRING,
       |  channel STRING,
       |  ctime TIMESTAMP,
       |  utime TIMESTAMP,
       |  PRIMARY KEY (id) NOT ENFORCED,
       |  proc_time AS PROCTIME()
       |) ${cdc("orders", "ec")}""".stripMargin,
    s"""CREATE TABLE order_items (
       |  id STRING,
       |  order_id STRING,
       |  product_id STRING,
       |  quantity BIGINT,
       |  price DECIMAL,
       |  amount DECIMAL,
       |  ctime TIMESTAMP,
       |  utime TIMESTAMP,
       |  PRIMARY KEY (id) NOT ENFORCED,
       |  proc_time AS PROCTIME()
       |) ${cdc("order_items", "ec")}""".stripMargin,
    s"""CREATE TABLE products (
       |  id STRING,
       |  name STRING,
       |  price DECIMAL,
       |  ctime TIMESTAMP,
       |  utime TIMESTAMP,
       |  PRIMARY KEY (id) NOT ENFORCED,
       |  proc_time AS PROCTIME()
       |) ${cdc("products", "ec")}""".stripMargin,
    s"""CREATE TABLE users (
       |  id STRING,
       |  name STRING,
       |  age INT,
       |  ctime TIMESTAMP,
       |  utime TIMESTAMP,
       |  proc_time AS PROCTIME()
       |) ${cdc("users", "crm")}""".stripMargin)

  val sinks: Seq[String] = Seq(
    s"""CREATE TABLE order_view (
       |  id STRING PRIMARY KEY NOT ENFORCED,
       |  `order.amount` DECIMAL,
       |  `order.status` STRING,
       |  `order.channel` STRING,
       |  `user.name` STRING,
       |  `user.age` INT,
       |  ctime TIMESTAMP,
       |  utime TIMESTAMP
       |) ${es("order_view")}""".stripMargin,
    s"""CREATE TABLE order_view_items (
       |  id STRING PRIMARY KEY NOT ENFORCED,
       |  `order.items` STRING
       |) ${es("order_view")}""".stripMargin,
    s"""CREATE TABLE user_view (
       |  id STRING PRIMARY KEY NOT ENFORCED,
       |  name STRING,
       |  age INT,
       |  ctime TIMESTAMP,
       |  utime TIMESTAMP
       |) ${es("user_view")}""".stripMargin,
    s"""CREATE TABLE product_view (
       |  id STRING PRIMARY KEY NOT ENFORCED,
       |  name STRING,
       |  price DECIMAL,
       |  ctime TIMESTAMP,
       |  utime TIMESTAMP
       |) ${es("product_view")}""".stripMargin,
    s"""CREATE TABLE user_order_stats_view (
       |  id STRING,
       |  cday STRING,
       |  `order.amount.day` DECIMAL,
       |  `order.count.day` BIGINT,
       |  PRIMARY KEY (id, cday) NOT ENFORCED
       |) ${es("user_view")}""".stripMargin,
    s"""CREATE TABLE order_stats_view (
       |  id STRING PRIMARY KEY NOT ENFORCED,
       |  amount DECIMAL,
       |  cnt BIGINT
       |) ${es("order_stats_view")}""".stripMargin,
    s"""CREATE TABLE product_stats_view (
       |  id STRING PRIMARY KEY NOT ENFORCED,
       |  quantity BIGINT,
       |  amount DECIMAL
       |) ${es("product_view")}""".stripMargin)

  /** Statement name → INSERT text, in the reference's file order. */
  val inserts: Seq[(String, String)] = Seq(
    "order_view_items" ->
      """INSERT INTO order_view_items
        |SELECT order_id, LISTAGG(product_id, ',')
        |FROM order_items
        |GROUP BY order_id""".stripMargin,
    "order_view" ->
      """INSERT INTO order_view
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
        |ON orders.user_id = users.id;""".stripMargin,
    "user_view" ->
      "INSERT INTO user_view SELECT id, name, age, ctime, utime FROM users",
    "product_view" ->
      "INSERT INTO product_view SELECT id, name, price, ctime, utime FROM products",
    "user_order_stats_view" ->
      """INSERT INTO user_order_stats_view
        |SELECT user_id, cday, SUM(amount), SUM(cnt)
        |FROM (
        |  SELECT user_id, date_format(ctime, 'yyyy-MM-dd') cday,
        |         SUM(amount) amount, COUNT(*) cnt
        |  FROM orders
        |  WHERE orders.status <> 'closed'
        |  GROUP BY user_id, mod(hash_code(FLOOR(RAND(1)*1000)), 256),
        |           date_format(ctime, 'yyyy-MM-dd')
        |) t
        |GROUP BY cday, user_id""".stripMargin,
    "order_stats_view" ->
      """INSERT INTO order_stats_view
        |SELECT cday, SUM(amount), SUM(cnt)
        |FROM (
        |  SELECT date_format(ctime, 'yyyy-MM-dd') cday,
        |         SUM(amount) amount, COUNT(*) cnt
        |  FROM orders
        |  WHERE orders.status <> 'closed'
        |  GROUP BY mod(hash_code(FLOOR(RAND(1)*1000)), 256),
        |           date_format(ctime, 'yyyy-MM-dd')
        |) t
        |GROUP BY cday""".stripMargin,
    "product_stats_view" ->
      """INSERT INTO product_stats_view
        |SELECT product_id, SUM(cnt), SUM(amount)
        |FROM (
        |  SELECT order_items.product_id product_id, COUNT(*) cnt,
        |         SUM(order_items.amount) amount
        |  FROM order_items
        |  JOIN orders ON order_items.order_id = orders.id
        |  WHERE orders.status <> 'closed'
        |  GROUP BY order_items.product_id,
        |           mod(hash_code(FLOOR(RAND(1)*1000)), 256)
        |) t
        |GROUP BY product_id""".stripMargin)

  /** Fields whose value is an unordered list (LISTAGG without ORDER BY):
    * compared as sorted multisets. */
  val unorderedFields: Set[String] = Set("order.items")
}
