package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The declared relational surface (`SURVEY.md §2.3` Q01–Q27): scans,
  * filters, every join shape the reference uses (broadcast/semi/anti/
  * residual — `LASERInputCheckMapper.java:239-251`,
  * `TRACEInputCheckMapper.java:221-255`), aggregations, windows, set ops,
  * scalar/date/math functions, and the batch forms of the streaming windows.
  *
  * All programs are declarative DataFrame plans: Catalyst pushes the filters
  * and projections into the parquet scans and AQE handles runtime re-planning;
  * no query materializes anything driver-side. Small dimensions carry an
  * explicit `broadcast()` hint so the join strategy survives a 100× scale-up
  * of the fact side.
  */
object CoreQueries {

  private def t(name: String)(implicit sd: (SparkSession, String)): DataFrame =
    Tables(sd._1, sd._2, name)

  val all: Seq[QueryDef] = Seq(

    QueryDef("q01_scan_project")(
      "SELECT l_orderkey, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber"
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("lineitem").orderBy("l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_quantity")
    },

    QueryDef("q02_filter")(
      """SELECT l_orderkey, l_linenumber FROM lineitem
        | WHERE l_discount > 0.05 AND l_quantity < 10
        | ORDER BY l_orderkey, l_linenumber""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("lineitem")
        .where(col("l_discount") > 0.05 && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    },

    QueryDef("q03_join_inner")(
      """SELECT o.o_orderkey, c.c_name FROM orders o
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | ORDER BY o.o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").join(t("customer"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    },

    QueryDef("q04_join_broadcast")(
      """SELECT n.n_name, r.r_name FROM nation n
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        | ORDER BY n.n_nationkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("nation").join(broadcast(t("region")),
          col("n_regionkey") === col("r_regionkey"))
        .orderBy("n_nationkey")
        .select("n_name", "r_name")
    },

    QueryDef("q05_join_left")(
      """SELECT c.c_custkey, o.o_orderkey FROM customer c
        | LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        | ORDER BY c.c_custkey, o.o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("customer").join(t("orders"), col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "o_orderkey")
        .orderBy("c_custkey", "o_orderkey")
    },

    // Full outer: unmatched rows surface from BOTH sides (filtered customers
    // drop some order custkeys → left-null; rich customers without expensive
    // orders → right-null). Sort keys are never null (coalesced key; within
    // a custkey group o_orderkey is either all non-null or a single null
    // row), so row order is engine-independent.
    QueryDef("q05b_join_full")(
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, o.o_orderkey
        | FROM (SELECT * FROM customer WHERE c_acctbal > 5000) c
        | FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) o
        |   ON c.c_custkey = o.o_custkey
        | ORDER BY custkey, o.o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("customer").where(col("c_acctbal") > 5000)
        .join(t("orders").where(col("o_totalprice") > 200000),
          col("c_custkey") === col("o_custkey"), "full")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("o_orderkey"))
        .orderBy("custkey", "o_orderkey")
    },

    QueryDef("q05c_join_right")(
      """SELECT c.c_custkey, o.o_orderkey
        | FROM (SELECT * FROM orders WHERE o_totalprice > 250000) o
        | RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
        | ORDER BY c.c_custkey, o.o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").where(col("o_totalprice") > 250000)
        .join(t("customer"), col("o_custkey") === col("c_custkey"), "right")
        .select("c_custkey", "o_orderkey")
        .orderBy("c_custkey", "o_orderkey")
    },

    // R15 analogue: membership via semi join (no duplicate inflation).
    QueryDef("q06_join_semi")(
      """SELECT c_custkey FROM customer
        | WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        | ORDER BY c_custkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("customer").join(
          t("orders").where(col("o_totalprice") > 100000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    },

    // R14 analogue: seq individual not in groups file → anti join.
    QueryDef("q07_join_anti")(
      """SELECT c_custkey FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders o
        |   WHERE o.o_custkey = c_custkey AND o.o_totalprice < 200000)
        | ORDER BY c_custkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      // threshold chosen so the anti side is non-empty at sf0.001/0.01/0.1
      t("customer").join(t("orders").where(col("o_totalprice") < 200000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    },

    // R15 literal shape: composite equi key + case-insensitive residual
    // predicate (compareToIgnoreCase, LASERInputCheckMapper.java:245).
    QueryDef("q08_join_residual")(
      """SELECT COUNT(*) AS shared FROM part p
        | JOIN supplier s ON p.p_size = CAST(s.s_suppkey AS INT)
        |   AND LOWER(p.p_brand) <> LOWER(s.s_name)""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("part").join(t("supplier"),
          col("p_size") === col("s_suppkey").cast("int") &&
            lower(col("p_brand")) =!= lower(col("s_name")))
        .agg(count(lit(1)).as("shared"))
    },

    QueryDef("q09_agg_group")(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |   ROUND(SUM(l_quantity), 6) AS qty,
        |   ROUND(AVG(l_extendedprice), 6) AS avg_price
        | FROM lineitem GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum("l_quantity"), 6).as("qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // R16/R17: total + conditional count in one pass over one scan.
    QueryDef("q10_agg_conditional")(
      """SELECT COUNT(*) AS total,
        |   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS shared
        | FROM orders""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").agg(
        count(lit(1)).as("total"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("shared"))
    },

    QueryDef("q11_agg_countdistinct")(
      "SELECT COUNT(DISTINCT o_custkey) AS n FROM orders"
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").agg(countDistinct("o_custkey").as("n"))
    },

    // R23 literal: "all per-group counts agree" ≙ countDistinct(count)==1
    // (TRACEInputValidator.java:230-233 TreeSet-size check).
    QueryDef("q12_agg_consistency")(
      """SELECT COUNT(DISTINCT cnt) AS distinct_counts FROM
        | (SELECT o_orderstatus, COUNT(*) AS cnt FROM orders GROUP BY o_orderstatus) t""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .agg(countDistinct("cnt").as("distinct_counts"))
    },

    QueryDef("q13_rollup")(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem
        | GROUP BY ROLLUP(l_returnflag, l_linestatus)
        | ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, cnt""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first, col("cnt"))
    },

    QueryDef("q13b_cube")(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem
        | GROUP BY CUBE(l_returnflag, l_linestatus)
        | ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, cnt""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("lineitem").cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first, col("cnt"))
    },

    QueryDef("q13c_grouping_sets")(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem
        | GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        | ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, cnt""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      Tables.registerAll(s, d)
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem
          | GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          | ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, cnt""".stripMargin)
    },

    // R19's chunk assignment as a window computation (chunkSize=100,
    // LASERInputValidator.java:18). The global-order window is correct here
    // because chunk identity IS a global property; the chunk writer in
    // operators/ChunkSink.scala (`ChunkSink.scan`) needs no sort at all: it
    // writes in the captured line order, in the one pass that also
    // validates the rows.
    QueryDef("q14_window_chunk")(
      """SELECT o_orderkey,
        |   CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1) / 100) AS BIGINT) AS chunk
        | FROM orders ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").select(col("o_orderkey"),
          floor((row_number().over(Window.orderBy("o_orderkey")) - 1) / 100)
            .cast("long").as("chunk"))
        .orderBy("o_orderkey")
    },

    QueryDef("q15_window_lag")(
      """SELECT o_custkey, o_orderkey,
        |   LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_price
        | FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").select(col("o_custkey"), col("o_orderkey"),
          lag("o_totalprice", 1)
            .over(Window.partitionBy("o_custkey").orderBy("o_orderkey"))
            .as("prev_price"))
        .orderBy("o_custkey", "o_orderkey")
    },

    QueryDef("q15b_window_lead")(
      """SELECT o_custkey, o_orderkey,
        |   LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_price,
        |   FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS first_key
        | FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t("orders").select(col("o_custkey"), col("o_orderkey"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          first("o_orderkey").over(w).as("first_key"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Ranking-analytic completeness: percent_rank / cume_dist / nth_value
    // (o_orderkey is unique per partition, so RANGE vs ROWS defaults for
    // nth_value coincide across engines).
    QueryDef("q15c_window_rank_stats")(
      """SELECT o_custkey, o_orderkey,
        |   round(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 6) AS pct_rank,
        |   round(cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 6) AS cume,
        |   nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nth2
        | FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t("orders").select(col("o_custkey"), col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          nth_value(col("o_orderkey"), 2).over(w).as("nth2"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Unpartitioned-window audit (r20): the global ORDER BY window IS the
    // declared semantics (a corpus-wide running sum) — partitioning it
    // would change the result. Same status: q14 (documented there), q16b,
    // q17b; the operator-library analogues that must scale run partitioned
    // or aggregated forms (ChunkSink, lrEval's bounded score table).
    QueryDef("q16_window_frame")(
      """SELECT o_orderkey,
        |   ROUND(SUM(o_totalprice) OVER (ORDER BY o_orderkey
        |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS run3
        | FROM orders ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").select(col("o_orderkey"),
          round(sum("o_totalprice").over(
            Window.orderBy("o_orderkey").rowsBetween(-2, Window.currentRow)), 6)
            .as("run3"))
        .orderBy("o_orderkey")
    },

    QueryDef("q17_topk_group")(
      """SELECT * FROM (
        |   SELECT o_custkey, o_orderkey,
        |     CAST(RANK() OVER (PARTITION BY o_custkey
        |       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |   FROM orders) t
        | WHERE rk <= 2 ORDER BY o_custkey, rk, o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").select(col("o_custkey"), col("o_orderkey"),
          rank().over(Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey")))
            .cast("long").as("rk"))
        .where(col("rk") <= 2)
        .orderBy("o_custkey", "rk", "o_orderkey")
    },

    QueryDef("q18_sort_limit")(
      """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      // orderBy+limit plans as TakeOrderedAndProject: per-partition top-k,
      // no global sort — the shape that survives 100 TB.
      t("orders").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_totalprice")
    },

    QueryDef("q19a_intersect")(
      """SELECT c_nationkey AS k FROM customer
        | INTERSECT SELECT n_nationkey FROM nation ORDER BY k""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("customer").select(col("c_nationkey").as("k"))
        .intersect(t("nation").select(col("n_nationkey").as("k")))
        .orderBy("k")
    },

    QueryDef("q19b_except")(
      """SELECT p_size AS k FROM part
        | EXCEPT SELECT n_nationkey FROM nation ORDER BY k""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("part").select(col("p_size").as("k"))
        .except(t("nation").select(col("n_nationkey").as("k")))
        .orderBy("k")
    },

    QueryDef("q19c_union")(
      """SELECT r_regionkey AS k FROM region
        | UNION SELECT n_regionkey FROM nation ORDER BY k""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("region").select(col("r_regionkey").as("k"))
        .union(t("nation").select(col("n_regionkey").as("k")))
        .distinct()
        .orderBy("k")
    },

    // The reference's scalar vocabulary: split/lower/concat/substr/startsWith
    // (SURVEY.md §2.2 scalar row).
    QueryDef("q20_string_funcs")(
      """SELECT p_partkey, LOWER(p_brand) AS b, SUBSTRING(p_name, 1, 5) AS pfx,
        |   p_type || ':' || CAST(p_size AS VARCHAR) AS key
        | FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("part").where(col("p_name").contains("a"))
        .select(col("p_partkey"), lower(col("p_brand")).as("b"),
          substring(col("p_name"), 1, 5).as("pfx"),
          concat(col("p_type"), lit(":"), col("p_size").cast("string")).as("key"))
        .orderBy("p_partkey")
    },

    QueryDef("q21_date_funcs")(
      """SELECT o_orderkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
        |   CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m
        | FROM orders ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"))
        .orderBy("o_orderkey")
    },

    QueryDef("q22_math_funcs")(
      """SELECT l_orderkey, l_linenumber,
        |   ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge,
        |   CAST(CEIL(l_quantity) AS BIGINT) AS q
        | FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("lineitem").select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax")), 6).as("charge"),
          ceil(col("l_quantity")).as("q"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Array model of the seq-loci encoding (SURVEY.md §1.2.1): build, explode.
    QueryDef("q23_explode")(
      """SELECT p_partkey, UNNEST(string_split(p_name, ' ')) AS tok
        | FROM part ORDER BY p_partkey, tok""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("part").select(col("p_partkey"),
          explode(split(col("p_name"), " ")).as("tok"))
        .orderBy("p_partkey", "tok")
    },

    // Q25: tumbling window, batch form (epoch-seconds bucketing).
    QueryDef("q25_window_tumbling")(
      """SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket, event_type,
        |   COUNT(*) AS cnt, ROUND(SUM(value), 6) AS v
        | FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("events").groupBy(
          floor(col("ts").cast("long") / 3600).cast("long").as("hour_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 6).as("v"))
        .orderBy("hour_bucket", "event_type")
    },

    QueryDef("q26_dedup_exact")(
      """SELECT COUNT(*) AS n FROM
        | (SELECT DISTINCT user_id, event_type FROM events) t""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("events").select("user_id", "event_type").distinct()
        .agg(count(lit(1)).as("n"))
    },

    QueryDef("q27_text_agg")(
      """SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        | FROM documents GROUP BY lang ORDER BY lang""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("documents").groupBy("lang")
        .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars"))
        .orderBy("lang")
    },

    // RANGE frame (value-based, vs q16's ROWS): all orders within 1000.0 of
    // the current price contribute to the windowed count.
    QueryDef("q16b_range_frame")(
      """SELECT o_orderkey, CAST(count(*) OVER (
        |     ORDER BY o_totalprice RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW
        |   ) AS BIGINT) AS near_cnt
        | FROM orders ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").select(col("o_orderkey"),
          count(lit(1)).over(Window.orderBy(col("o_totalprice"))
            .rangeBetween(-1000L, Window.currentRow)).as("near_cnt"))
        .orderBy("o_orderkey")
    },

    QueryDef("q17b_dense_ntile")(
      """SELECT o_orderkey,
        |   DENSE_RANK() OVER (ORDER BY o_orderstatus) AS dr,
        |   NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
        | FROM orders ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").select(col("o_orderkey"),
          dense_rank().over(Window.orderBy(col("o_orderstatus"))).as("dr"),
          ntile(4).over(Window.orderBy(col("o_totalprice"), col("o_orderkey"))).as("quartile"))
        .orderBy("o_orderkey")
    },

    // Exact per-group lower median via row_number — portable across both
    // engines (interpolating percentile implementations differ numerically).
    QueryDef("q31_median")(
      """SELECT o_orderstatus, max(CASE WHEN rn * 2 <= cnt + 1 THEN o_totalprice END) AS median
        | FROM (SELECT o_orderstatus, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice NULLS LAST) AS rn,
        |         count(*) OVER (PARTITION BY o_orderstatus) AS cnt
        |       FROM orders) t
        | GROUP BY 1 ORDER BY o_orderstatus""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      // explicit NULLS LAST: Spark's ASC default is NULLS FIRST, DuckDB's is
      // NULLS LAST — an implicit order would change the median itself
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").asc_nulls_last)
      t("orders")
        .select(col("o_orderstatus"), col("o_totalprice"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy(col("o_orderstatus"))).as("cnt"))
        .groupBy(col("o_orderstatus"))
        .agg(max(when(col("rn") * 2 <= col("cnt") + 1, col("o_totalprice"))).as("median"))
        .orderBy("o_orderstatus")
    },

    QueryDef("q32_stats_agg")(
      """SELECT o_orderstatus,
        |   round(stddev_samp(o_totalprice), 6) AS sd,
        |   round(var_samp(o_totalprice), 2) AS vr,
        |   round(corr(o_totalprice, o_custkey), 6) AS cr,
        |   round(covar_samp(o_totalprice, o_custkey), 2) AS cv
        | FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      // variance/covariance magnitudes are ~1e10 here, so ULP noise between
      // the engines' accumulation orders lands in the 1e-6 digit — round to
      // 2 decimals (still 12 significant digits of agreement).
      t("orders").groupBy(col("o_orderstatus"))
        .agg(round(stddev_samp(col("o_totalprice")), 6).as("sd"),
          round(var_samp(col("o_totalprice")), 2).as("vr"),
          round(corr(col("o_totalprice"), col("o_custkey")), 6).as("cr"),
          round(covar_samp(col("o_totalprice"), col("o_custkey")), 2).as("cv"))
        .orderBy("o_orderstatus")
    },

    // Pivot: event_type values to columns (Spark groupBy().pivot(); oracle
    // is the portable CASE-WHEN formulation of the same contract).
    QueryDef("q33_pivot")(
      """SELECT user_id,
        |   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        | FROM events GROUP BY 1 ORDER BY user_id""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("events").groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(coalesce(count(lit(1)), lit(0L)))
        .na.fill(0L)
        .orderBy("user_id")
    },

    // Multiset (ALL) set-op semantics: intersectAll keeps min multiplicity
    // per key, exceptAll subtracts multiplicities.
    QueryDef("q19d_setops_all")(
      """SELECT k, CAST(count(*) AS BIGINT) AS n FROM (
        |   SELECT c_nationkey AS k FROM customer
        |   INTERSECT ALL SELECT s_nationkey FROM supplier
        | ) t GROUP BY k
        | UNION ALL
        | SELECT k, CAST(count(*) AS BIGINT) AS n FROM (
        |   SELECT c_nationkey AS k FROM customer WHERE c_custkey < 100
        |   EXCEPT ALL SELECT s_nationkey FROM supplier
        | ) t GROUP BY k
        | ORDER BY n, k""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      val inter = t("customer").select(col("c_nationkey").as("k"))
        .intersectAll(t("supplier").select(col("s_nationkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
      val exc = t("customer").where(col("c_custkey") < 100)
        .select(col("c_nationkey").as("k"))
        .exceptAll(t("supplier").select(col("s_nationkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
      inter.unionAll(exc).orderBy("n", "k")
    },

    QueryDef("q34_scalar_subquery")(
      """SELECT o_orderkey, o_totalprice FROM orders
        | WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)
        | ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      Tables.registerAll(s, d)
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders
          | WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)
          | ORDER BY o_orderkey""".stripMargin)
    },

    QueryDef("q35_string_funcs2")(
      """SELECT p_partkey,
        |   levenshtein(p_brand, 'Brand#32') AS lev,
        |   translate(p_type, 'ae', 'AE') AS tr,
        |   regexp_replace(p_name, '[aeiou]', '_', 'g') AS rr,
        |   date_trunc('month', o.o_orderdate) AS mon
        | FROM part p JOIN orders o ON p.p_partkey = o.o_orderkey
        | WHERE p.p_partkey < 500 ORDER BY p_partkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("part").as("p")
        .join(t("orders").as("o"), col("p_partkey") === col("o_orderkey"))
        .where(col("p_partkey") < 500)
        .select(col("p_partkey"),
          levenshtein(col("p_brand"), lit("Brand#32")).as("lev"),
          translate(col("p_type"), "ae", "AE").as("tr"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("rr"),
          date_trunc("month", col("o_orderdate")).as("mon"))
        .orderBy("p_partkey")
    },

    // Extension: as-of join (operators/AsOfJoin — one union+window shuffle;
    // the DuckDB oracle uses its native ASOF LEFT JOIN, same inclusive
    // most-recent-prior semantics).
    QueryDef("q29_asof_join")(
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |      r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
        | SELECT l.event_id, r.value AS asof_value
        | FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        | ORDER BY l.event_id""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      val events = t("events")
      val clicks = events.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = events.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsOfJoin.asOf(clicks, purchases, "user_id", "ts", "value")
        .select("event_id", "asof_value").orderBy("event_id")
    },

    // Extension: exact top-k per group via the typed TopK Aggregator
    // (functions/TopK — O(groups × k) shuffle). Same total-order semantics
    // as q17's window rank, so the window SQL is the oracle.
    QueryDef("q30_topk_agg")(
      """SELECT o_custkey, o_orderkey, CAST(rk AS BIGINT) AS rk FROM
        | (SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t
        | WHERE rk <= 2 ORDER BY o_custkey, rk""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      import s.implicits._
      t("orders").select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(new graft.functions.TopK(2).toColumn.name("top"))
        .toDF("o_custkey", "top")
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("o_custkey"), col("e._1").as("o_orderkey"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy("o_custkey", "rk")
    },

    // Array construction + manipulation: ordered collect, slice, membership
    // (string-rendered — cross-engine array cell rendering differs, strings
    // hash identically).
    QueryDef("q38_array_funcs")(
      """WITH a AS (SELECT o_custkey, list(o_orderkey ORDER BY o_orderkey) AS ks
        |           FROM orders GROUP BY 1)
        | SELECT o_custkey, CAST(len(ks) AS INT) AS n,
        |   CAST(ks[1] AS BIGINT) AS first_k,
        |   coalesce(array_to_string(ks[2:3], ','), '') AS mid,
        |   list_contains(ks, o_custkey) AS has_self
        | FROM a ORDER BY o_custkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders")
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("ks"))
        .select(col("o_custkey"), size(col("ks")).as("n"),
          element_at(col("ks"), 1).as("first_k"),
          concat_ws(",", slice(col("ks"), 2, 2)).as("mid"),
          array_contains(col("ks"), col("o_custkey")).as("has_self"))
        .orderBy("o_custkey")
    },

    // NULL semantics: nullif-manufactured nulls, null-ignoring count,
    // null-safe equality (<=> / IS NOT DISTINCT FROM).
    QueryDef("q39_null_semantics")(
      """SELECT CAST(count(*) AS BIGINT) AS total,
        |   CAST(count(nullif(o_orderstatus, 'O')) AS BIGINT) AS n_nonnull,
        |   CAST(sum(CASE WHEN nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_null,
        |   coalesce(min(nullif(o_orderstatus, 'O')), 'none') AS min_nonnull
        | FROM orders""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").agg(
        count(lit(1)).as("total"),
        count(nullif(col("o_orderstatus"), lit("O"))).as("n_nonnull"),
        sum(when(nullif(col("o_orderstatus"), lit("O")) <=> lit(null), 1)
          .otherwise(0)).as("n_nullsafe_null"),
        coalesce(min(nullif(col("o_orderstatus"), lit("O"))), lit("none"))
          .as("min_nonnull"))
    },

    // Correlated EXISTS / NOT EXISTS — planned as one semi + one anti join
    // against the same filtered build sides.
    QueryDef("q41_exists_subquery")(
      """SELECT c.c_custkey FROM customer c
        | WHERE EXISTS (SELECT 1 FROM orders o
        |               WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |   AND NOT EXISTS (SELECT 1 FROM orders o2
        |                   WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        | ORDER BY c.c_custkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("customer")
        .join(t("orders").where(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .join(t("orders").where(col("o_orderstatus") === "F")
            .select(col("o_custkey").as("f_custkey")),
          col("c_custkey") === col("f_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    },

    // Recursive CTE (Spark 4 WITH RECURSIVE): a recursively generated month
    // spine LEFT-joined to orders — months with no orders still appear.
    QueryDef("q42_recursive_cte")(
      """WITH RECURSIVE m(mth) AS (SELECT 1 UNION ALL SELECT mth + 1 FROM m WHERE mth < 12)
        | SELECT m.mth, CAST(count(o.o_orderkey) AS BIGINT) AS n
        | FROM m LEFT JOIN orders o ON month(o.o_orderdate) = m.mth
        | GROUP BY m.mth ORDER BY m.mth""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      Tables.registerAll(s, d)
      s.sql(
        """WITH RECURSIVE m(mth) AS (SELECT 1 UNION ALL SELECT mth + 1 FROM m WHERE mth < 12)
          | SELECT m.mth, CAST(count(o.o_orderkey) AS BIGINT) AS n
          | FROM m LEFT JOIN orders o ON month(o.o_orderdate) = m.mth
          | GROUP BY m.mth ORDER BY m.mth""".stripMargin)
    },

    // Batch sessionization: gap-based session ids via lag + running sum of
    // boundary flags — one keyed window, linear, the batch twin of the
    // streaming session_window (q25/evt_sessions family).
    QueryDef("q40_sessionize")(
      """WITH g AS (SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id))
        |              > 1800000000 OR
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        | s AS (SELECT user_id, event_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g)
        | SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
        |   CAST(count(*) AS BIGINT) AS n_events
        | FROM s GROUP BY 1, 2 ORDER BY user_id, sess_id""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      // gap compared in exact MICROSECONDS on both engines (the events ts
      // carries sub-second parts; whole-second truncation would misplace
      // boundaries within the truncation window)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t("events")
        .select(col("user_id"), col("event_id"), col("ts"),
          when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 1800000000L
            || lag(col("ts"), 1).over(w).isNull, 1).otherwise(0).as("new_sess"))
        .select(col("user_id"), col("event_id"),
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("sess_id"))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("user_id", "sess_id")
    },

    // Extension: sketch aggregates. The approximate values are
    // engine-specific (HLL++ / GK), so the CHECKED claim is a golden
    // tolerance contract: the sketch estimates land within the stated
    // error of the exact answers computed in the same plan. Deterministic
    // for a fixed input — a real oracle row, not a rows-only waiver.
    QueryDef("q37_sketches")(
      "SELECT true AS cd_within_3pct, true AS p50_within_5pct"
    ) { (s, d) =>
      implicit val sd = (s, d)
      // rsd 0.01 → 3σ bound 3%; the default 5% rsd misses a 2% contract.
      // The exact distinct count runs as its OWN aggregation: mixing a
      // distinct agg (Expand plan) with object-buffer sketch aggregates in
      // one agg() forces every sketch through the expanded row stream —
      // measured 31 s vs 1 s at sf0.1 for the two-pass + cross-join shape.
      val li = t("lineitem")
      val exact = li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("cd_exact"))
      val sketches = li.agg(
        approx_count_distinct(col("l_orderkey"), 0.01).as("cd_approx"),
        expr("percentile(l_quantity, 0.5)").as("p50_exact"),
        expr("percentile_approx(l_quantity, 0.5, 10000)").as("p50_approx"))
      exact.crossJoin(sketches)
        .select(
          (abs(col("cd_approx") - col("cd_exact")) / col("cd_exact") < 0.03)
            .as("cd_within_3pct"),
          (abs(col("p50_approx") - col("p50_exact")) / col("p50_exact") <= 0.05)
            .as("p50_within_5pct"))
    },

    // Extension: point-in-interval range join (operators/RangeJoin) — each
    // user's first-hour activity window vs ALL events, bucketized to an
    // equi-join (no BroadcastNestedLoopJoin). The oracle is the naive
    // BETWEEN join, blocking-agnostic.
    QueryDef("q36_range_join")(
      """WITH iv AS (SELECT user_id AS iv_user, min(ts) AS start_ts,
        |              min(ts) + INTERVAL 1 HOUR AS end_ts
        |            FROM events GROUP BY 1)
        | SELECT iv.iv_user, CAST(count(*) AS BIGINT) AS n_events
        | FROM events e JOIN iv ON e.ts >= iv.start_ts AND e.ts <= iv.end_ts
        | GROUP BY 1 ORDER BY iv_user""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      val ev = t("events")
      val iv = ev.groupBy("user_id").agg(min(col("ts")).as("start_ts"))
        .select(col("user_id").as("iv_user"), col("start_ts"),
          (col("start_ts") + expr("INTERVAL 1 HOUR")).as("end_ts"))
      graft.operators.RangeJoin.pointInInterval(
          ev.select(col("ts")), iv, "ts", "start_ts", "end_ts", bucketWidth = 3600L)
        .groupBy(col("iv_user"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("iv_user")
    },

    // Skew-salted shuffle join: the big side carries a deterministic salt,
    // the medium side replicates nSalts x, hot keys fan across tasks. The
    // oracle is the UNSALTED join — salting must be result-invariant.
    QueryDef("q45_salted_join")(
      """SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(CAST(floor(o.o_totalprice) AS BIGINT)) AS BIGINT) AS price_floor_sum
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        | GROUP BY 1 ORDER BY c_nationkey""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      graft.operators.SkewJoin.saltedEquiJoin(
          t("orders").select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
          t("customer").select(col("c_custkey"), col("c_nationkey")),
          "c_custkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice")).cast("long")).as("price_floor_sum"))
        .orderBy("c_nationkey")
    },

    // Wide→long reshape via the native unpivot operator (Expand node: one
    // scan, no join/shuffle — the rows multiply ×K in the projection). The
    // oracle states the semantics as the blocking-agnostic UNION ALL form.
    QueryDef("q43_unpivot")(
      """SELECT l_orderkey, l_linenumber, 'l_discount' AS metric, l_discount AS val
        |   FROM lineitem WHERE l_orderkey < 50
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_quantity', l_quantity
        |   FROM lineitem WHERE l_orderkey < 50
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |   FROM lineitem WHERE l_orderkey < 50
        | ORDER BY l_orderkey, l_linenumber, metric""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("lineitem").where(col("l_orderkey") < 50)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_discount"), col("l_quantity"), col("l_tax")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    },

    // Gap fill / forward fill: carry the last PURCHASE value forward over
    // each user's event stream — one keyed window (running frame), linear;
    // rows before a user's first purchase stay NULL on both engines.
    QueryDef("q44_gapfill")(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |   last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
        | FROM events WHERE user_id < 50
        | ORDER BY user_id, ts_us, event_id""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t("events").where(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
            .over(w).as("last_purchase"))
        .orderBy("user_id", "ts_us", "event_id")
    },

    // Bloom-filter semi-join reduction: the probe (lineitem) is pre-filtered
    // by a compact filter built from the selective orders subset, so at
    // scale only ~selectivity of the fact table reaches the join shuffle.
    // False positives are discarded by the exact join — result is identical
    // to the plain join, which is exactly what the oracle states.
    QueryDef("q46_bloom_join")(
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |   ROUND(SUM(l_extendedprice), 2) AS rev
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderpriority = '1-URGENT'
        | GROUP BY 1 ORDER BY o_orderstatus""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      val urgent = t("orders").where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderstatus")
      graft.operators.BloomJoin.bloomPrunedJoin(
          t("lineitem").select("l_orderkey", "l_extendedprice"), urgent,
          "l_orderkey", "o_orderkey", expectedItems = 1L << 22)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
        .orderBy("o_orderstatus")
    },

    // Funnel analysis: users progressing view → click (at/after their first
    // view) → purchase (at/after that click). Each stage is one min-ts
    // aggregate + an equi-join on user_id — same shuffle key throughout, so
    // the stages reuse one partitioning; counts collapse to a single row.
    QueryDef("q47_funnel")(
      """WITH v AS (SELECT user_id, min(ts) AS vt FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        | c AS (SELECT e.user_id, min(e.ts) AS ct FROM events e
        |       JOIN v ON v.user_id = e.user_id AND e.ts >= v.vt
        |       WHERE e.event_type = 'click' GROUP BY 1),
        | p AS (SELECT e.user_id, min(e.ts) AS pt FROM events e
        |       JOIN c ON c.user_id = e.user_id AND e.ts >= c.ct
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        | SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
        |   (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_view_click,
        |   (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_view_click_purchase""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      val ev = t("events").select("user_id", "event_type", "ts")
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("vt"))
      val c = ev.where(col("event_type") === "click")
        .join(v, Seq("user_id")).where(col("ts") >= col("vt"))
        .groupBy("user_id").agg(min("ts").as("ct"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, Seq("user_id")).where(col("ts") >= col("ct"))
        .groupBy("user_id").agg(min("ts").as("pt"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
    },

    // Data profiling (the ANALYZE-style pass a pipeline runs before
    // training): row count, per-column min/max/avg/null-count and ONE exact
    // distinct count, all in a single scan. Kept to one DISTINCT aggregate:
    // each additional one multiplies the row stream through an Expand plan
    // (the q37_sketches lesson) — profile more columns with
    // approx_count_distinct or separate two-phase passes.
    QueryDef("q49_profile")(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |   CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        |   CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |   CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |   round(avg(o_totalprice), 4) AS avg_price,
        |   CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |     AS null_prios
        | FROM orders""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("orders").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_custs"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        round(avg(col("o_totalprice")), 4).as("avg_price"),
        sum(when(col("o_orderpriority").isNull, 1).otherwise(0)).cast("long").as("null_prios"))
    },

    // Order-independent table fingerprint: sum of a 32-bit slice of each
    // row's md5 + the row count — ONE map-side-combined aggregate, no
    // shuffle beyond the 1-row merge. The 100 TB use: verify a copy /
    // migration / export byte-for-byte cheaply, without sorting anything.
    QueryDef("q48_fingerprint")(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |   CAST(sum(('0x' || substring(md5(doc_id || ':' || text), 1, 8))::BIGINT) AS BIGINT)
        |     AS content_sum
        | FROM documents""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      t("documents").agg(
        count(lit(1)).as("n_rows"),
        sum(conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))), 1, 8),
          16, 10).cast("long")).as("content_sum"))
    },

    // CDC snapshot diff: latest-state-per-user at 60% of the log's span vs
    // at the end, every user classified insert/update/unchanged (delete
    // needs a tombstone type — spec-covered; impossible in this append-only
    // log). The oracle materializes both snapshots with windowed sorts and
    // a full outer join — the ENGINE computes the identical result in ONE
    // key-partitioned aggregate (conditional max_by per bound, map-side
    // combined): one shuffle instead of two sorts + a join.
    QueryDef("evt_cdc")(
      """WITH b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
        | t AS (SELECT mn + CAST(floor((mx - mn) * 6 / 10) AS BIGINT) AS t0, mx + 1 AS t1 FROM b),
        | s0 AS (SELECT user_id, event_type, value FROM (
        |     SELECT e.user_id, e.event_type, e.value,
        |       row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts DESC, e.event_id DESC) AS rn
        |     FROM events e CROSS JOIN t WHERE epoch_us(e.ts) < t0) WHERE rn = 1),
        | s1 AS (SELECT user_id, event_type, value FROM (
        |     SELECT e.user_id, e.event_type, e.value,
        |       row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts DESC, e.event_id DESC) AS rn
        |     FROM events e CROSS JOIN t WHERE epoch_us(e.ts) < t1) WHERE rn = 1)
        | SELECT coalesce(s1.user_id, s0.user_id) AS key,
        |   CASE WHEN s0.user_id IS NULL THEN 'insert'
        |        WHEN s1.user_id IS NULL THEN 'delete'
        |        WHEN s0.event_type <> s1.event_type OR s0.value <> s1.value THEN 'update'
        |        ELSE 'unchanged' END AS change,
        |   s0.event_type AS old_type, s1.event_type AS new_type
        | FROM s0 FULL JOIN s1 ON s0.user_id = s1.user_id
        | ORDER BY key""".stripMargin
    ) { (s, d) =>
      implicit val sd = (s, d)
      graft.operators.SnapshotDiff.diffAuto(t("events"), col("user_id"))
        .orderBy(col("key"))
    },
  )
}
