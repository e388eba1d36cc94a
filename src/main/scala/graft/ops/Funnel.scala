package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The gold-layer funnel model: FK joins + per-entity flag aggregation.
  *
  * Reference: the star schema in
  * `card_funnel/sqls/create_customers_table.sql:7-92` (customers ←
  * invitations ← applications ← accounts ← card) whose per-customer boolean/
  * date columns (`opened_flag`, `clicked_flag`, approval dates …) are funnel
  * flags derived from event streams. Here the `events` table plays the event
  * stream and `customer` the customer dimension.
  *
  * Scale design: the event side is the 100 TB fact — it is deduped with ONE
  * hash shuffle (see [[Dedup.dedupLatest]]); the customer dimension is
  * broadcast (`broadcast(dim)`) so the join adds no shuffle; the final
  * aggregation is a partial/final hash agg on a low-cardinality key.
  */
object Funnel {

  /** A4 — per-user funnel flags from raw events. */
  def funnelFlags(events: DataFrame): DataFrame =
    events.groupBy(col("user_id")).agg(
      max(when(col("event_type") === "signup", 1).otherwise(0)).as("has_signup"),
      max(when(col("event_type") === "view", 1).otherwise(0)).as("has_view"),
      max(when(col("event_type") === "click", 1).otherwise(0)).as("has_click"),
      max(when(col("event_type") === "purchase", 1).otherwise(0)).as("has_purchase"),
      Cleanse.tsStr(min(col("ts"))).as("first_ts"),
      Cleanse.tsStr(max(col("ts"))).as("last_ts"),
      count(lit(1)).as("n_events"))

  /** EP3 twin — build the gold star schema (the FULL 5-table funnel of
    * `create_customers_table.sql:7-92`) as managed parquet tables from the
    * silver layer, via the SQL script runner (K8). Table/column shapes
    * mirror the reference's DDL: per-customer funnel flags, FK chain
    * customers ← invitations ← applications ← accounts ← card, with the
    * activation-funnel flags of `create_customers_table.sql:62-91`
    * (first_activation / first_transaction on accounts; sent / booked /
    * card_activated on card) derived from each customer's post-application
    * event stream — the conversion end of the funnel. The activation join
    * shuffles on user_id only (events per user are bounded), so every CTAS
    * stays a keyed join + hash aggregate at any corpus size. Returns the
    * created names.
    *
    * GRAIN NOTE (round-7 review): `applications` is at (purchase ×
    * invitation) grain — a customer with several signup events yields one
    * row per (purchase, signup) pair, so `application_id` repeats. That
    * mirrors the reference's star build (and the declared query's oracle
    * computes the identical fan-out); the downstream `accounts` CTAS
    * re-groups by application_id, so the FK chain stays sound. Direct
    * consumers of `applications` must aggregate by application_id before
    * summing amounts. */
  def buildGoldSchema(spark: SparkSession, sfDir: String,
                      prefix: String = "gold"): Seq[String] = {
    // DROP TABLE only clears the CATALOG; a managed-table location left by a
    // previous session (fresh catalog, stale warehouse dir) still blocks
    // CREATE TABLE with LOCATION_ALREADY_EXISTS — remove stale dirs first
    // through the ONE shared drop helper (round-7 review: this block was a
    // divergent inline copy of SinkDdl.dropManagedTable)
    // drop card→customers (FK leaf first); the script below re-creates in
    // FK order. The old per-statement DROP IF EXISTS duplicates of these
    // were removed — each was a second catalog round-trip for a table
    // this helper had already dropped.
    Seq("card", "accounts", "applications", "invitations", "customers")
      .foreach(t => SinkDdl.dropManagedTable(spark, s"${prefix}_$t"))
    Tables.table(spark, sfDir, "events").createOrReplaceTempView("silver_events")
    Tables.table(spark, sfDir, "customer").createOrReplaceTempView("silver_customers")
    // {p}_customers depends only on the silver layer, while the FK chain
    // invitations → applications → accounts → card is strictly
    // sequential (each CTAS reads its predecessor). Build the two
    // independent branches as CONCURRENT jobs on the one session (guide
    // §2.6 — actions are only sequential because the driver calls them
    // sequentially): the customers aggregate back-fills executor slots
    // the chain's single-task write stages leave idle. Same tables, same
    // rows; only the wall-clock schedule changes.
    val customersScript =
      """CREATE TABLE {p}_customers USING parquet AS
         SELECT c.c_custkey AS customer_id, c.c_name AS name,
                c.c_mktsegment AS segment,
                CAST(max(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END) AS BOOLEAN) AS opened_flag,
                CAST(max(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) AS BOOLEAN) AS clicked_flag,
                min(e.ts) AS first_seen, max(e.ts) AS last_seen
         FROM silver_customers c LEFT JOIN silver_events e ON e.user_id = c.c_custkey
         GROUP BY c.c_custkey, c.c_name, c.c_mktsegment;"""
    val chainScript =
      """CREATE TABLE {p}_invitations USING parquet AS
         SELECT event_id AS invitation_id, user_id AS customer_id, ts AS sent_at
         FROM silver_events WHERE event_type = 'signup';
         CREATE TABLE {p}_applications USING parquet AS
         SELECT e.event_id AS application_id, i.invitation_id, e.user_id AS customer_id,
                e.ts AS applied_at, e.value AS amount
         FROM silver_events e
         JOIN {p}_invitations i ON i.customer_id = e.user_id
         WHERE e.event_type = 'purchase';
         CREATE TABLE {p}_accounts USING parquet AS
         SELECT a.application_id AS account_id, a.customer_id,
                a.application_id,
                CAST(count(CASE WHEN e.event_type = 'click' THEN 1 END) > 0 AS BOOLEAN) AS first_activation_flag,
                min(CASE WHEN e.event_type = 'click' THEN e.ts END) AS first_activation_date,
                CAST(count(CASE WHEN e.event_type = 'purchase' THEN 1 END) > 0 AS BOOLEAN) AS is_first_transaction,
                min(CASE WHEN e.event_type = 'purchase' THEN e.ts END) AS first_transaction_date,
                CASE WHEN count(CASE WHEN e.event_type = 'click' THEN 1 END) > 0
                     THEN 'active' ELSE 'pending' END AS status
         FROM {p}_applications a
         LEFT JOIN silver_events e ON e.user_id = a.customer_id AND e.ts > a.applied_at
         GROUP BY a.application_id, a.customer_id;
         CREATE TABLE {p}_card USING parquet AS
         SELECT acc.account_id AS card_number, acc.account_id, acc.customer_id,
                CAST(TRUE AS BOOLEAN) AS sent_flag,
                acc.first_activation_date AS sent_date,
                CAST(count(CASE WHEN e.event_type = 'purchase' THEN 1 END) > 0 AS BOOLEAN) AS booked_flag,
                min(CASE WHEN e.event_type = 'purchase' THEN e.ts END) AS booked_date,
                CAST(count(CASE WHEN e.event_type = 'view' THEN 1 END) > 0 AS BOOLEAN) AS card_activated_flag,
                min(CASE WHEN e.event_type = 'view' THEN e.ts END) AS card_activated_date,
                CASE WHEN count(CASE WHEN e.event_type = 'view' THEN 1 END) > 0
                     THEN 'activated' ELSE 'sent' END AS status
         FROM {p}_accounts acc
         LEFT JOIN silver_events e ON e.user_id = acc.customer_id
             AND e.ts > acc.first_activation_date
         WHERE acc.first_activation_flag
         GROUP BY acc.account_id, acc.customer_id, acc.first_activation_date;"""
    alongside(SinkDdl.runSqlScript(spark, customersScript, Map("p" -> prefix))) {
      SinkDdl.runSqlScript(spark, chainScript, Map("p" -> prefix))
    }
    Seq(s"${prefix}_customers", s"${prefix}_invitations",
      s"${prefix}_applications", s"${prefix}_accounts", s"${prefix}_card")
  }

  /** Runs `side` on another thread while `main` runs on this one, and
    * returns once both have finished. If `main` throws, `side` is still
    * awaited before the exception propagates, so it never keeps writing
    * while the caller unwinds. */
  private[graft] def alongside[A](side: => Unit)(main: => A): A = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val sideF = Future(side)
    val out = try main finally Await.ready(sideF, Duration.Inf)
    Await.result(sideF, Duration.Inf) // rethrows a failure of `side`
    out
  }

  /** The flagship end-to-end funnel query (SURVEY.md §7.2): scan → time
    * filter → latest-per-key dedup → broadcast dim join → flag aggregation
    * per market segment → deterministic order. */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.table(spark, sfDir, "events")
    val customer = Tables.table(spark, sfDir, "customer")
    val recent = Cleanse.filterSince(events, "ts", "2024-01-10")
    val latest = Dedup.dedupLatest(recent, Seq("user_id", "event_type"),
      col("ts"), col("event_id"))
    latest
      .join(broadcast(customer), latest("user_id") === customer("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(
        count_distinct(col("user_id")).as("n_users"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "signup", 1)).as("n_signup"),
        sum(Cleanse.dec2(col("value")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 4))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
      .orderBy(col("mktsegment"))
  }
}
