package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-layout tier: the physical-design levers that decide whether
  * a 100 TB table is queryable at all — bucketed co-located joins
  * (shuffle paid once at write time, never again), partition pruning
  * (read 1/K of the table when the predicate names the partition),
  * columnar-format interchange, and SCD2 history construction. Each is
  * staged to a scale-factor-keyed dir under target/ (same discipline as
  * q61/q65) and verified against an oracle over the ORIGINAL tables, so
  * any row lost or mangled by the layout rewrite diverges the hash.
  */
object Warehouse {
  import Tables.{d2, t}
  import Staging.tag

  val queries: Seq[QueryDef] = Seq(

    QueryDef(
      "q69_bucketed_join",
      (s, dir) => {
        // Bucketed co-located join: both sides written bucketBy(8, key)
        // + sortBy(key), one file per bucket (repartition on the bucket
        // column first). With matching bucket specs Spark's SMJ needs
        // NO Exchange on either side (partition-local sorts remain —
        // Spark 4 ignores write-time sortBy ordering on read — but a
        // local sort moves no bytes) — at 100 TB this is
        // the fact⋈fact join strategy: the shuffle is paid once at
        // ingest and amortized over every subsequent join. Runs on a
        // cloned session (broadcast off so the co-location, not the
        // small SF, is what kills the shuffle); PlanSpec pins zero
        // exchanges under the join. Oracle joins the ORIGINAL tables.
        val s2 = s.newSession()
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val tg = tag(dir)
        val root = s"${Staging.targetDir}/graft_bucket_$tg"
        // bucketed layout = ingest-time fixture (this query's own doc:
        // "the shuffle is paid once at ingest") — staged once per
        // (session, sfDir); the exchange-free SMJ is what's measured
        Staging.once(s, s"q69:$dir", dir, s"$root/customer") {
          t(s2, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
            .repartition(8, col("o_custkey"))
            .write.mode("overwrite")
            .bucketBy(8, "o_custkey").sortBy("o_custkey")
            .option("path", s"$root/orders")
            .saveAsTable(s"graft_bkt_orders_$tg")
          t(s2, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))
            .repartition(8, col("c_custkey"))
            .write.mode("overwrite")
            .bucketBy(8, "c_custkey").sortBy("c_custkey")
            .option("path", s"$root/customer")
            .saveAsTable(s"graft_bkt_cust_$tg")
        }
        val o = s2.table(s"graft_bkt_orders_$tg")
        val c = s2.table(s"graft_bkt_cust_$tg")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(d2(col("o_totalprice"))).cast("double").as("revenue"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
            AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      "bucketed co-located join: both sides bucketBy(8, key) at write " +
        "time -> sort-merge join with ZERO exchanges (PlanSpec) — the " +
        "pay-the-shuffle-once layout for recurring fact joins; content " +
        "oracled against the unbucketed originals"),

    QueryDef(
      "q70_partition_pruning",
      (s, dir) => {
        // Hive-style partition pruning: events written partitionBy
        // (event_type), the predicate names one partition value, and
        // the scan's PartitionFilters prove only that directory is
        // read (PlanSpec) — 1/5 of the bytes here, 1/K at 100 TB where
        // K is the partition count the layout designer chose. The
        // aggregate result is oracled against the UNPARTITIONED
        // original filtered the ordinary way.
        val root = s"${Staging.targetDir}/graft_part_${tag(dir)}"
        // partitioned layout = ingest-time fixture ("the layout
        // designer chose" it once) — staged once per (session, sfDir);
        // the pruned scan is what's measured
        Staging.once(s, s"q70:$dir", dir, s"$root/_SUCCESS") {
          Tables.events(s, dir)
            .write.mode("overwrite").partitionBy("event_type").parquet(root)
        }
        s.read.parquet(root)
          .filter(col("event_type") === "click")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("user_id")).as("n_users"),
            min(col("value")).as("min_v"),
            max(col("value")).as("max_v"))
          .orderBy("day")
      },
      Some("""SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
          COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
          MIN(value) AS min_v, MAX(value) AS max_v
        FROM events WHERE event_type = 'click'
        GROUP BY 1 ORDER BY day"""),
      "hive-style partition pruning: partitionBy(event_type) layout, " +
        "single-partition predicate, PartitionFilters in the scan " +
        "(PlanSpec pins that data filters are empty — the partition " +
        "dir IS the filter); oracle aggregates the unpartitioned " +
        "original"),

    QueryDef(
      "q71_scd2",
      (s, dir) => {
        // SCD2 history construction from a change log: per customer,
        // collapse consecutive identical order statuses (run-length
        // compression via lag), then derive [valid_from, valid_to)
        // intervals via lead, open interval = current. Everything is
        // windows over (custkey) — bounded keys, one shuffle, no
        // self-join; the standard warehouse dimension-history build.
        // Total order within a customer is (o_orderdate, o_orderkey)
        // so ties on date are deterministic on both engines.
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_orderstatus"))
          .withColumn("prev_st", lag(col("o_orderstatus"), 1).over(w))
          .filter(col("prev_st").isNull
            || col("prev_st") =!= col("o_orderstatus"))
          .withColumn("valid_from", col("o_orderdate"))
          .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderstatus"), col("valid_from"), col("valid_to"),
            col("valid_to").isNull.as("is_current"))
          .orderBy("o_custkey", "valid_from", "o_orderkey")
      },
      Some("""WITH ordered AS (
          SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
            LAG(o_orderstatus) OVER
              (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
              AS prev_st
          FROM orders),
        changes AS (
          SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
          FROM ordered
          WHERE prev_st IS NULL OR prev_st <> o_orderstatus)
        SELECT o_custkey, o_orderkey, o_orderstatus,
          o_orderdate AS valid_from,
          LEAD(o_orderdate) OVER
            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            AS valid_to,
          (LEAD(o_orderdate) OVER
            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            IS NULL) AS is_current
        FROM changes ORDER BY o_custkey, valid_from, o_orderkey"""),
      "SCD2 dimension-history build: lag-based run-length compression " +
        "of the change log, lead-derived [valid_from, valid_to) " +
        "intervals, open interval = is_current — all windows on the " +
        "natural key, one shuffle, no self-join"),

    QueryDef(
      "q72_orc_interchange",
      (s, dir) => {
        // Columnar-format interchange: lineitem rewritten as ORC
        // (Spark's second first-class columnar format), read back with
        // a selective predicate that must reach the ORC reader as a
        // pushed filter (PlanSpec pins PushedFilters on the ORC scan —
        // ORC predicate pushdown skips stripes by min/max exactly as
        // parquet skips row groups). Content oracled against the
        // parquet original: same rows in, same aggregate out, or the
        // format round-trip broke something.
        val root = s"${Staging.targetDir}/graft_orc_${tag(dir)}"
        // ORC copy = ingest-time fixture — staged once per (session,
        // sfDir); the pushed-filter ORC read is what's measured
        Staging.once(s, s"q72:$dir", dir, s"$root/_SUCCESS") {
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_quantity"),
              col("l_extendedprice"), col("l_returnflag"), col("l_shipdate"))
            .write.mode("overwrite").orc(root)
        }
        s.read.orc(root)
          .filter(col("l_quantity") >= 45.0)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(d2(col("l_quantity"))).cast("double").as("qty_sum"),
            sum(d2(col("l_extendedprice"))).cast("double").as("price_sum"),
            max(col("l_shipdate")).as("max_ship"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
            AS DOUBLE) AS qty_sum,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
            AS DOUBLE) AS price_sum,
          MAX(l_shipdate) AS max_ship
        FROM lineitem WHERE l_quantity >= 45.0
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      "ORC format interchange: parquet -> ORC rewrite, predicate pushed " +
        "into the ORC scan (stripe-level min/max skipping), aggregate " +
        "content oracled against the parquet original"),

    QueryDef(
      "q73_dynamic_pruning",
      (s, dir) => {
        // Dynamic partition pruning (DPP): the partition predicate is
        // not known at plan time — it comes from a FILTER ON A JOINED
        // DIMENSION. Spark runs the dimension side first and injects
        // the surviving join keys into the fact scan's
        // PartitionFilters as a dynamicpruning expression, so only the
        // matching partition directories are read. At 100 TB this is
        // THE star-schema lever: a date-dimension filter prunes a
        // date-partitioned fact without the user naming partitions.
        // Fact = events partitioned by event_type (q70's layout,
        // rewritten here under its own staging root); dim = a tiny
        // (event_type, category) parquet table filtered on category.
        // PlanSpec pins `dynamicpruning` inside PartitionFilters.
        val root = s"${Staging.targetDir}/graft_dpp_${tag(dir)}"
        // partitioned fact + dim = ingest-time fixture — staged once
        // per (session, sfDir); the DPP join is what's measured
        Staging.once(s, s"q73:$dir", dir, s"$root/dim/_SUCCESS") {
          Tables.events(s, dir)
            .write.mode("overwrite").partitionBy("event_type")
            .parquet(s"$root/fact")
          val dim = s.createDataFrame(Seq(
            ("click", "engage"), ("view", "engage"),
            ("purchase", "convert"), ("signup", "convert"),
            ("error", "ops"))).toDF("event_type", "category")
          dim.write.mode("overwrite").parquet(s"$root/dim")
        }
        val fact = s.read.parquet(s"$root/fact")
        val d = s.read.parquet(s"$root/dim")
          .filter(col("category") === "convert")
        fact.join(d, Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("user_id")).as("n_users"),
            min(col("value")).as("min_v"),
            max(col("value")).as("max_v"))
          .orderBy("event_type")
      },
      Some("""WITH dim(event_type, category) AS (VALUES
          ('click', 'engage'), ('view', 'engage'),
          ('purchase', 'convert'), ('signup', 'convert'),
          ('error', 'ops'))
        SELECT e.event_type, COUNT(*) AS n,
          COUNT(DISTINCT e.user_id) AS n_users,
          MIN(e.value) AS min_v, MAX(e.value) AS max_v
        FROM events e JOIN dim d ON e.event_type = d.event_type
        WHERE d.category = 'convert'
        GROUP BY e.event_type ORDER BY e.event_type"""),
      "dynamic partition pruning: a dimension-side filter prunes the " +
        "partitioned fact scan at RUNTIME (dynamicpruning expression " +
        "in PartitionFilters — PlanSpec) — the star-schema lever that " +
        "reads only the joined partitions without naming them"),

    QueryDef(
      "q74_corrupt_quarantine",
      (s, dir) => {
        // Corrupt-record quarantine at the text-ingest boundary: a
        // JSON-lines landing zone where every 13th record arrives
        // mangled (truncated payload — the 100 TB ingest reality).
        // PERMISSIVE parsing routes unparseable lines to
        // _corrupt_record instead of killing the job (the mm2
        // discipline applied to the text tier); the result audits both
        // populations. The oracle never parses JSON — corruption is
        // deterministic by doc_id, so DuckDB recomputes the expected
        // audit straight from the source table: any line Spark
        // mis-classifies or drops diverges the counts/sums.
        val root = s"${Staging.targetDir}/graft_quarantine_${tag(dir)}"
        // corrupted landing zone = ingest fixture — staged once per
        // (session, sfDir); the PERMISSIVE parse is what's measured
        Staging.once(s, s"q74:$dir", dir, s"$root/_SUCCESS") {
          t(s, dir, "documents")
            .select(when(pmod(col("doc_id"), lit(13)) === 0,
              concat(lit("{\"doc_id\":"), col("doc_id"), lit(",\"n_chars\":")))
              .otherwise(to_json(struct(col("doc_id"), col("n_chars"),
                col("source"))))
              .as("value"))
            .write.mode("overwrite").text(root)
        }
        s.read
          .schema("doc_id BIGINT, n_chars BIGINT, source STRING, _corrupt_record STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(root)
          .agg(
            count(when(col("_corrupt_record").isNull, 1)).as("n_ok"),
            count(col("_corrupt_record")).as("n_corrupt"),
            sum(when(col("_corrupt_record").isNull, col("n_chars")))
              .as("chars_ok"),
            count_distinct(when(col("_corrupt_record").isNull,
              col("source"))).as("n_sources"))
      },
      Some("""SELECT
          COUNT(CASE WHEN doc_id % 13 <> 0 THEN 1 END) AS n_ok,
          COUNT(CASE WHEN doc_id % 13 = 0 THEN 1 END) AS n_corrupt,
          CAST(SUM(CASE WHEN doc_id % 13 <> 0 THEN n_chars END)
            AS BIGINT) AS chars_ok,
          COUNT(DISTINCT CASE WHEN doc_id % 13 <> 0 THEN source END)
            AS n_sources
        FROM documents"""),
      "corrupt-record quarantine: PERMISSIVE JSON ingest routes " +
        "mangled lines to _corrupt_record (one bad object never kills " +
        "the job); the audit is oracled WITHOUT parsing JSON — the " +
        "deterministic corruption lets DuckDB recompute it from the " +
        "source table"),

    QueryDef(
      "q105_pit_join",
      (s, dir) => {
        // POINT-IN-TIME feature join — the leakage-prevention join
        // every feature store runs when assembling training data:
        // each fact (a shipped lineitem) attaches the customer's
        // order-status feature AS OF its ship date, never a value
        // from the future. The SCD2 interval lookup collapses to an
        // AS-OF BACKWARD join against q71's change-log rows (max
        // change date <= ship date), which plans as one tagged union
        // + one key shuffle + one window — never a range product —
        // and the same-date tie resolves to the largest change
        // orderkey, matching the interval build's total order. (A
        // fact earlier than its key's first change would keep a NULL
        // feature — the leak-free answer; structurally absent here
        // since shipping follows ordering, and covered by the
        // asofBackward property tests.)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val changes = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_orderstatus"))
          .withColumn("prev_st", lag(col("o_orderstatus"), 1).over(w))
          .filter(col("prev_st").isNull
            || col("prev_st") =!= col("o_orderstatus"))
          .select(col("o_custkey"), col("o_orderdate"),
            col("o_orderkey"), col("o_orderstatus"))
        val facts = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
          .join(t(s, dir, "orders")
            .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
            "l_orderkey")
        graft.operators.AsOfJoin.asofBackward(
          facts, changes, Seq("o_custkey"), "l_shipdate", "o_orderdate",
          Seq("o_orderkey", "o_orderstatus"))
          .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
            col("l_shipdate"),
            col("asof_o_orderkey").as("feat_change_key"),
            col("asof_o_orderstatus").as("feat_status"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""WITH ordered AS (
          SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
            LAG(o_orderstatus) OVER
              (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
              AS prev_st
          FROM orders),
        ch AS (
          SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
          FROM ordered
          WHERE prev_st IS NULL OR prev_st <> o_orderstatus),
        f AS (
          SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, l.l_shipdate
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        ks AS (SELECT DISTINCT o_custkey, l_shipdate FROM f),
        feat AS (
          SELECT o_custkey, l_shipdate, feat_change_key, feat_status
          FROM (
            SELECT k.o_custkey, k.l_shipdate,
              ch.o_orderkey AS feat_change_key,
              ch.o_orderstatus AS feat_status,
              ROW_NUMBER() OVER (
                PARTITION BY k.o_custkey, k.l_shipdate
                ORDER BY ch.o_orderdate DESC NULLS LAST,
                  ch.o_orderkey DESC NULLS LAST) AS rk
            FROM ks k LEFT JOIN ch
              ON k.o_custkey = ch.o_custkey
              AND ch.o_orderdate <= k.l_shipdate)
          WHERE rk = 1)
        SELECT f.l_orderkey, f.l_linenumber, f.o_custkey, f.l_shipdate,
          feat.feat_change_key, feat.feat_status
        FROM f JOIN feat
          ON f.o_custkey = feat.o_custkey
          AND f.l_shipdate = feat.l_shipdate
        ORDER BY l_orderkey, l_linenumber"""),
      "point-in-time feature join (feature-store leakage prevention): " +
        "SCD2 interval lookup as an as-of backward join against the " +
        "change log — one union + one key shuffle + one window, never " +
        "a range product; facts before the first change keep NULL")
  )
}
