package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType}
import graft.Tables._
import graft.operators.MergeOps
import graft.schema.SchemaConform
import graft.types.PgTypeMapping

/** Relational operator surface — the SQL shapes the reference's catalog
  * queries exercise (SURVEY.md §2.2: multi-way equi-joins, filters, string
  * aggregation, group-by, order-by, limit, derived-table subqueries) plus the
  * standard capability categories the rubric checks (§2.3: set ops, windows,
  * semi/anti joins, scalar functions), expressed TPC-H-style over the fixture
  * star schema.
  *
  * Determinism conventions (every query must hash-match its DuckDB oracle):
  * every output is ORDER BY'd on a tuple that is either unique or leaves only
  * bit-identical rows tied (NOTE: fixture (l_orderkey, l_linenumber) is NOT
  * unique — order by all output columns when in doubt); double aggregates are routed
  * through decimals ([[graft.Tables.dsum]]); timestamps never appear raw in
  * output (cast to date/epoch/string); counts are BIGINT on both sides.
  */
object RelationalQueries extends QueryDomain {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- TPC-H-style headliners over the star schema ----------------------
    "q1_pricing_summary" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum(dec($"l_extendedprice", 14, 2) * dec(lit(1) - $"l_discount", 8, 4))
            .cast(DoubleType).as("sum_disc_price"),
          davg($"l_quantity").as("avg_qty"),
          davg($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    "q3_top_unshipped" -> { (s, dir) =>
      import s.implicits._
      // Small dimension side is broadcast; the orders↔lineitem join shuffles
      // on orderkey, the same key the aggregate reuses — one shuffle total.
      val c = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      val o = t(s, dir, "orders").filter($"o_orderdate" < lit("1998-06-01"))
      val l = t(s, dir, "lineitem").filter($"l_shipdate" > lit("1998-06-01"))
      broadcast(c)
        .join(o, $"c_custkey" === $"o_custkey")
        .join(l, $"o_orderkey" === $"l_orderkey")
        .groupBy($"l_orderkey")
        .agg(sum(dec($"l_extendedprice", 14, 2) * dec(lit(1) - $"l_discount", 8, 4))
          .cast(DoubleType).as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    },

    "q5_region_revenue" -> { (s, dir) =>
      import s.implicits._
      // 6-way join mirroring the reference's 5-way pg_catalog join shape
      // (/root/reference/sql.py:30-40) at TPC-H Q5 semantics. All dimension
      // tables broadcast; the single shuffle is orders↔lineitem.
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(su), $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(sum(dec($"l_extendedprice", 14, 2) * dec(lit(1) - $"l_discount", 8, 4))
          .cast(DoubleType).as("revenue"))
        .orderBy($"n_name")
    },

    "q6_revenue_change" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1996-01-01") && $"l_shipdate" < lit("1999-01-01") &&
          $"l_discount".between(0.03, 0.07) && $"l_quantity" < 25)
        .agg(
          sum(dec($"l_extendedprice", 14, 2) * dec($"l_discount", 8, 4))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_rows"))
    },

    "q_bloom_semijoin" -> { (s, dir) =>
      import s.implicits._
      // Bloom-prefiltered semi-join ([[graft.operators.BloomJoins]]): the
      // fact side is pruned by a membership test on the urgent orders' key
      // Bloom BEFORE its shuffle, then exact-semi-joined — identical result
      // to the plain semi-join (oracle is the plain IN), with the fact
      // exchange carrying only matches + fpp·|fact| rows at scale.
      val urgent = t(s, dir, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey".as("l_orderkey"))
      graft.operators.BloomJoins.bloomSemiJoin(
          t(s, dir, "lineitem"), urgent, Seq("l_orderkey"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(dec($"l_extendedprice", 14, 2) * dec(lit(1) - $"l_discount", 8, 4))
            .cast(DoubleType).as("revenue"))
        .orderBy($"l_returnflag")
    },

    // ---- §2.2 shapes ------------------------------------------------------
    "q_filter_predicates" -> { (s, dir) =>
      import s.implicits._
      // Conjunction + IN + BETWEEN + LIKE + NOT, the predicate shapes of the
      // reference's catalog filters (/root/reference/sql.py:14-21,41-46).
      t(s, dir, "orders")
        .filter($"o_orderstatus".isin("F", "P") &&
          $"o_totalprice".between(1000.0, 250000.0) &&
          $"o_orderpriority".like("%URGENT%") &&
          !($"o_custkey" % 7 === 0))
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
        .orderBy($"o_orderkey")
    },

    "q_string_agg" -> { (s, dir) =>
      import s.implicits._
      // string_agg(x, ',') equivalent (/root/reference/sql.py:28,57):
      // sorted concat for cross-engine determinism (SURVEY.md §7.5).
      t(s, dir, "nation")
        .join(t(s, dir, "customer"), $"n_nationkey" === $"c_nationkey")
        .groupBy($"n_name")
        .agg(
          concat_ws(",", sort_array(collect_list($"c_name"))).as("customers"),
          count(lit(1)).as("n_customers"))
        .orderBy($"n_name")
    },

    "q_orderby_limit" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_acctbal".desc, $"c_custkey")
        .limit(20)
    },

    "q_derived_subquery" -> { (s, dir) =>
      import s.implicits._
      // Derived-table + GROUP BY + ORDER BY + LIMIT — the unique-index
      // discovery shape (/root/reference/sql.py:49-80).
      t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("spend"))
        .filter($"n_orders" >= 2)
        .orderBy($"spend".desc, $"o_custkey")
        .limit(5)
        .select($"o_custkey", $"n_orders", $"spend")
    },

    "q_set_ops" -> { (s, dir) =>
      import s.implicits._
      val rich = t(s, dir, "customer").filter($"c_acctbal" > 5000.0).select($"c_custkey")
      val buyers = t(s, dir, "orders").select($"o_custkey".as("c_custkey")).distinct()
      rich.intersect(buyers).withColumn("tag", lit("rich_buyer"))
        .unionByName(rich.except(buyers).withColumn("tag", lit("rich_no_orders")))
        .orderBy($"tag", $"c_custkey")
    },

    "q_window_funcs" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      t(s, dir, "orders")
        .select(
          $"o_custkey", $"o_orderkey",
          row_number().over(w).as("rn"),
          lag($"o_orderkey", 1).over(w).as("prev_orderkey"),
          sum(dec($"o_totalprice", 14, 2))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType).as("running_spend"))
        .orderBy($"o_custkey", $"rn")
    },

    "q_window_ranks" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // The rank family q_window_funcs doesn't cover, split across two
      // window specs by tie behavior: rank/dense_rank/percent_rank/
      // cume_dist run on the TIE-BEARING date order (their values depend
      // only on the order KEY, so ties are deterministic), while ntile/
      // lead/first_value need the TOTAL (date, orderkey) order — their
      // results depend on row placement within ties. Same partitioning,
      // so both specs share one exchange.
      val wT = Window.partitionBy($"o_custkey").orderBy($"o_orderdate")
      val wU = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
      t(s, dir, "orders")
        .select(
          $"o_custkey", $"o_orderkey",
          rank().over(wT).as("rnk"),
          dense_rank().over(wT).as("drnk"),
          percent_rank().over(wT).as("prnk"),
          cume_dist().over(wT).as("cdist"),
          ntile(4).over(wU).as("quartile"),
          lead($"o_orderkey", 1).over(wU).as("next_orderkey"),
          first($"o_orderkey").over(wU).as("first_orderkey"))
        .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
    },

    "q_rolling_window" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Time-RANGE window frame — the other frame class next to
      // q_window_funcs' ROWS frames: each event sees its user's trailing
      // 10-minute count/sum, with the frame defined by the ORDER BY VALUE
      // (epoch second), not row position. RANGE frames are deterministic
      // under ties by construction (peers share one frame in both engines),
      // where a ROWS frame over a non-unique ordering would not be. One
      // shuffle keyed by user_id; at scale that key is high-cardinality and
      // AQE-splittable.
      val w = Window.partitionBy($"user_id").orderBy($"ts_sec")
        .rangeBetween(-600L, Window.currentRow)
      events(s, dir)
        .select($"event_id", $"user_id", expr("ts div 1000000000").as("ts_sec"),
          $"value")
        .select($"user_id", $"ts_sec", $"event_id",
          count(lit(1)).over(w).as("n_10m"),
          sum(dec($"value")).over(w).cast(DoubleType).as("v_10m"))
        .orderBy($"user_id", $"ts_sec", $"event_id")
    },

    "q_semi_anti_join" -> { (s, dir) =>
      import s.implicits._
      // LEFT SEMI (EXISTS) + LEFT ANTI (NOT EXISTS) over customer↔orders.
      val c = t(s, dir, "customer")
      val buyers = t(s, dir, "orders").select($"o_custkey").distinct()
      val withO = c.join(buyers, $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_nationkey").agg(count(lit(1)).as("with_orders"))
      val without = c.join(buyers, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey").agg(count(lit(1)).as("without_orders"))
      withO.join(without, Seq("c_nationkey"), "full_outer")
        .select($"c_nationkey",
          coalesce($"with_orders", lit(0L)).as("with_orders"),
          coalesce($"without_orders", lit(0L)).as("without_orders"))
        .orderBy($"c_nationkey")
    },

    "q_outer_joins" -> { (s, dir) =>
      import s.implicits._
      // LEFT OUTER with null-producing side aggregated: orders per customer
      // including order-less customers.
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("n_orders"),
          coalesce(dsum($"o_totalprice"), lit(0.0)).as("spend"))
        .orderBy($"c_custkey")
    },

    "q_scalar_string" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "part")
        .select(
          $"p_partkey",
          upper($"p_name").as("up_name"),
          length($"p_name").as("name_len"),
          substring($"p_name", 1, 5).as("pfx"),
          concat($"p_brand", lit("-"), $"p_type").as("brand_type"),
          lpad($"p_size".cast("string"), 4, "0").as("size_pad"),
          regexp_replace($"p_name", " ", "_").as("snake_name"))
        .orderBy($"p_partkey")
    },

    "q_scalar_array" -> { (s, dir) =>
      import s.implicits._
      // Array/HOF scalar surface: split, size, distinct+sort+slice+join,
      // transform/aggregate (sum of token lengths as a strict fold),
      // filter, containment — each with a DuckDB list_* twin. Outputs are
      // scalars (counts, a joined string) so no array-encoding ambiguity
      // reaches the hash.
      val tk = split($"text", " ")
      docs(s, dir).select(
          $"doc_id",
          size(tk).as("n_tokens"),
          array_join(slice(sort_array(array_distinct(tk)), 1, 5), ",")
            .as("first5"),
          aggregate(tk, lit(0L), (a, x) => a + length(x)).as("sum_len"),
          size(filter(tk, x => length(x) > 4)).as("n_long"),
          array_contains(tk, "the").cast("int").as("has_the"))
        .orderBy($"doc_id")
    },

    "q_scalar_math" -> { (s, dir) =>
      import s.implicits._
      // Math scalar surface, kept to operations IEEE defines exactly:
      // abs/floor/ceil/sign, integer pmod, sqrt (correctly rounded by
      // spec), integer powers of 2. round() is deliberately absent — its
      // half-up vs half-even convention differs between engines.
      val v = $"l_extendedprice" - 30000.0
      t(s, dir, "lineitem").select(
          $"l_orderkey", $"l_linenumber", $"l_extendedprice",
          abs(v).as("abs_v"),
          floor(v).cast("long").as("floor_v"),
          ceil(v).cast("long").as("ceil_v"),
          signum(v).cast("int").as("sign_v"),
          pmod($"l_orderkey", lit(97L)).as("mod97"),
          sqrt($"l_extendedprice").as("sqrt_p"),
          pow(lit(2.0), ($"l_linenumber" % 10).cast("double")).as("pow2"))
        .orderBy($"l_orderkey", $"l_linenumber", $"l_extendedprice")
    },

    "q_scalar_datetime" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select(
          $"o_orderkey",
          year($"o_orderdate").as("yr"),
          month($"o_orderdate").as("mo"),
          dayofmonth($"o_orderdate").as("dy"),
          date_trunc("month", $"o_orderdate").cast(DateType).as("month_start"),
          datediff(lit("2002-01-01").cast(DateType), $"o_orderdate".cast(DateType))
            .as("days_to_2002"))
        .orderBy($"o_orderkey")
    },

    "q_scalar_jsonmap" -> { (s, dir) =>
      import s.implicits._
      // JSON + MAP scalar surface: build a JSON document per row with the
      // engine's own constructor (proper escaping — raw concatenation would
      // produce malformed JSON the two engines fail on asymmetrically),
      // extract fields back out; build a map column, look up/enumerate keys.
      val j = to_json(struct($"n_name".as("name"), $"n_regionkey".as("rk")))
      val m = map(lit("rk"), $"n_regionkey", lit("nk"), $"n_nationkey")
      t(s, dir, "nation").select(
        $"n_nationkey",
        get_json_object(j, "$.name").as("json_name"),
        get_json_object(j, "$.rk").cast("int").as("json_rk"),
        element_at(m, "rk").as("map_rk"),
        concat_ws(",", map_keys(m)).as("map_keys_str"))
        .orderBy($"n_nationkey")
    },

    "q_case_buckets" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select($"o_orderstatus",
          when($"o_totalprice" < 50000.0, "small")
            .when($"o_totalprice" < 150000.0, "mid")
            .otherwise("large").as("bucket"))
        .groupBy($"o_orderstatus", $"bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy($"o_orderstatus", $"bucket")
    },

    "q_distinct" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select($"o_orderstatus", $"o_orderpriority")
        .distinct()
        .orderBy($"o_orderstatus", $"o_orderpriority")
    },

    "q_sql_correlated" -> { (s, dir) =>
      // SQL-frontend coverage: a correlated scalar subquery + correlated
      // EXISTS, decorrelated by Catalyst into aggregates/semi-joins (the
      // plan contains no per-row subquery execution).
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c.c_custkey, c.c_acctbal,
          |  (SELECT COUNT(*) FROM orders_v o
          |   WHERE o.o_custkey = c.c_custkey) AS n_orders
          |FROM customer_v c
          |WHERE EXISTS (SELECT 1 FROM orders_v o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)
          |ORDER BY c.c_custkey""".stripMargin)
    },

    "q_sql_lateral" -> { (s, dir) =>
      // SQL-frontend coverage, third member (correlated → recursive →
      // LATERAL): a correlated lateral derived table with ORDER BY +
      // LIMIT — SQL's top-N-per-group idiom. Catalyst decorrelates the
      // lateral into a join (DomainJoin rewrite), never a per-outer-row
      // subquery execution; the engine-side twin of this shape is the
      // rank-window top-N. Deterministic: qty ties break on
      // l_linenumber, and (o_orderkey, l_linenumber) orders the output
      // totally. qty rides as BIGINT (integral in this schema) so the
      // hash compare never sees a float.
      t(s, dir, "orders").createOrReplaceTempView("orders_lat_v")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_lat_v")
      s.sql(
        """SELECT o.o_orderkey, t.l_linenumber, t.qty
          |FROM orders_lat_v o JOIN LATERAL (
          |  SELECT l_linenumber, CAST(l_quantity AS BIGINT) AS qty
          |  FROM lineitem_lat_v l
          |  WHERE l.l_orderkey = o.o_orderkey
          |  ORDER BY l_quantity DESC, l_linenumber LIMIT 2) t
          |WHERE o.o_orderkey <= 1000
          |ORDER BY o.o_orderkey, t.l_linenumber""".stripMargin)
    },

    "q_sql_recursive" -> { (s, dir) =>
      // SQL-frontend recursion (Spark 4's WITH RECURSIVE): walk each
      // order's lineitems along consecutive linenumbers from 1,
      // accumulating quantity; the walk stops at the first gap (the
      // fixture's linenumbers are gappy by construction — both engines
      // stop identically) and FORKS at duplicated linenumbers (the
      // fixture has those too — hence cum_qty in the ORDER BY to keep
      // the sort total). The accumulation order is FIXED by the
      // recursion itself, so the double sums are bit-identical without
      // decimal routing. Oracle = the very same SQL text.
      //
      // Spark caps recursive-CTE output at 1M rows by default
      // (spark.sql.cteRecursionRowLimit) as a runaway-recursion valve;
      // the walk's output grows linearly with lineitem, so the cap is a
      // fixture-size ceiling, not a semantic bound — raise it so the gate
      // scales with the fixture (first hit at the sf1 scale sweep). The
      // LEVEL limit stays at its default: walk depth is the max
      // consecutive-linenumber chain, which does NOT grow with SF.
      s.conf.set("spark.sql.cteRecursionRowLimit", Int.MaxValue.toString)
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(recursiveWalkSql("lineitem_v"))
    },

    "q_percentiles" -> { (s, dir) =>
      import s.implicits._
      // Exact (not approx_) percentiles: Spark `percentile` and DuckDB
      // `quantile_cont` share the (1−d)·lower + d·upper interpolation, and
      // the inputs are decimal-exact doubles, so values hash-match.
      t(s, dir, "orders")
        .groupBy($"o_orderstatus")
        .agg(
          percentile($"o_totalprice".cast("decimal(18,4)").cast("double"), lit(0.5)).as("p50"),
          percentile($"o_totalprice".cast("decimal(18,4)").cast("double"), lit(0.95)).as("p95"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
    },

    "q_split_hash" -> { (s, dir) =>
      import s.implicits._
      // Deterministic hash-based train/val/test assignment — THE sampling
      // primitive of a training-data pipeline (stable across runs, engines,
      // and partitionings, unlike rand()-based sampling).
      val bucket = graft.operators.TextOps.polyHash($"text") % 100
      docs(s, dir)
        .select($"doc_id",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
        .orderBy($"split")
    },

    "q_rollup" -> { (s, dir) =>
      import s.implicits._
      // Hierarchical aggregate with subtotal + grand-total rows; grouping()
      // flags disambiguate rollup NULLs from data NULLs on both engines.
      t(s, dir, "orders")
        .rollup($"o_orderstatus", $"o_orderpriority")
        .agg( // grouping() is only resolvable inside the rollup's agg list
          grouping($"o_orderstatus").cast("int").as("g_status"),
          grouping($"o_orderpriority").cast("int").as("g_prio"),
          count(lit(1)).as("n"), dsum($"o_totalprice").as("spend"))
        .select($"o_orderstatus", $"o_orderpriority", $"g_status", $"g_prio", $"n", $"spend")
        .orderBy($"g_status", $"g_prio", $"o_orderstatus", $"o_orderpriority")
    },

    "q_cube" -> { (s, dir) =>
      import s.implicits._
      // Full CUBE (all 4 grouping sets) with the grouping_id BITMASK —
      // verified identical bit order to DuckDB's GROUPING(a, b). Within
      // each gid stratum the rolled-up columns are constant NULL and the
      // surviving columns are unique, so the ORDER BY is total and the
      // engines' opposite NULLS FIRST/LAST defaults never bite.
      t(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n"), dsum($"o_totalprice").as("spend"))
        .select($"o_orderstatus", $"o_orderpriority", $"gid", $"n", $"spend")
        .orderBy($"gid", $"o_orderstatus", $"o_orderpriority")
    },

    "q_grouping_sets" -> { (s, dir) =>
      import s.implicits._
      // Arbitrary GROUPING SETS — the multi-grouping shape ROLLUP/CUBE
      // cannot express: two NON-hierarchical strata ((status), (priority))
      // computed in one pass over the fact table (one scan feeding both
      // aggregates, vs two scans for two separate GROUP BYs). gid bitmask
      // disambiguates the strata exactly as in q_cube; within each stratum
      // the rolled-up column is constant NULL and the surviving column
      // unique, so the ORDER BY is total on both engines.
      t(s, dir, "orders")
        .groupingSets(Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority")),
          $"o_orderstatus", $"o_orderpriority")
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n"), dsum($"o_totalprice").as("spend"))
        .select($"o_orderstatus", $"o_orderpriority", $"gid", $"n", $"spend")
        .orderBy($"gid", $"o_orderstatus", $"o_orderpriority")
    },

    "q_pivot" -> { (s, dir) =>
      import s.implicits._
      // Pivot = conditional aggregation: order counts + decimal-exact spend
      // per priority, one column pair per order status.
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("spend"))
        .select($"o_orderpriority",
          coalesce($"F_n", lit(0L)).as("f_n"), coalesce($"F_spend", lit(0.0)).as("f_spend"),
          coalesce($"O_n", lit(0L)).as("o_n"), coalesce($"O_spend", lit(0.0)).as("o_spend"),
          coalesce($"P_n", lit(0L)).as("p_n"), coalesce($"P_spend", lit(0.0)).as("p_spend"))
        .orderBy($"o_orderpriority")
    },

    // ---- engine-side upsert + schema conform (reference core semantics) ---
    "q_merge_upsert" -> { (s, dir) =>
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity")
      val base = li.filter($"l_orderkey" % 3 === 0)
      val src = base.withColumn("l_quantity", $"l_quantity" + 10).withColumn("ord", lit(1))
        .unionByName(base.withColumn("l_quantity", $"l_quantity" + 20).withColumn("ord", lit(2)))
      // (l_orderkey, l_linenumber) is NOT unique in the fixture, so both the
      // dedup ordering and the output ordering carry l_quantity as tiebreak —
      // ties that remain are bit-identical rows, harmless to positional hash.
      orderedSmall(
        MergeOps.merge(li, src, Seq("l_orderkey", "l_linenumber"), Seq($"ord", $"l_quantity")),
        $"l_orderkey", $"l_linenumber", $"l_quantity")
    },

    "q_cdc_apply" -> { (s, dir) =>
      import s.implicits._
      // CDC apply ([[MergeOps.applyChanges]]): a change batch with updates
      // (custkey % 5: +100 on the balance), inserts (% 11, shifted keys),
      // and deletes (% 7) applied to the customer table — the Delta-style
      // MERGE with DELETE the reference's insert/update loader cannot
      // express. Keys divisible by 35 receive an update THEN a delete;
      // last-op-wins must drop them. (Change construction shared with the
      // streaming twin q_stream_cdc.)
      val c = t(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal")
      orderedSmall(
        MergeOps.applyChanges(c, cdcChangeBatch(s, dir), Seq("c_custkey"), Seq($"ord")),
        $"c_custkey")
    },

    "q_stream_cdc" -> { (s, dir) =>
      import s.implicits._
      // Streaming CDC materialization
      // ([[graft.streaming.EventStreams.cdcMaterialize]], the 14th
      // streaming gate): the SAME change batch as q_cdc_apply replayed as
      // three micro-batches in CDC arrival order (updates, inserts,
      // deletes — so a %35 key's update-then-delete transitions keyed
      // state ACROSS batches), materialized last-write-wins per key with
      // horizon emission driven by one null-op sentinel file plus the
      // pinned no-data finalization batch ([[Staging.streamSession]]); the
      // surviving delta overlays the untouched target rows by anti-join.
      // Output — and oracle — identical to q_cdc_apply.
      val staged = streamCdcDir(s, dir)
      val ss = Staging.streamSession(s)
      val src = Staging.replay(ss, staged, oneFilePerBatch = true)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
        .withWatermark("tsm", "0 seconds")
        // No op-filter here: the null-op sentinels ride into the operator
        // as watermark carriers (a pre-filter would be pushed below the
        // watermark node — see cdcMaterialize's scaladoc). Carrier rows
        // get encoder-safe key/ord and a null payload struct.
        .select(coalesce($"c_custkey", lit(-1L)).as("key"),
          coalesce($"ord".cast("long"), lit(0L)).as("ord"), $"op",
          when($"op".isNotNull,
            struct($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal")).as("payload"),
          $"tsm".cast("long").as("epochSec"), $"tsm")
        .as[graft.streaming.EventStreams.CdcEvent[CdcCustomer]]
      val out = graft.streaming.EventStreams
        .cdcMaterialize(src, horizonSec = 3600L)
      val c = t(ss, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal")
      val untouched = c.join(
        cdcChangeBatch(ss, dir).select($"c_custkey").distinct(), Seq("c_custkey"), "left_anti")
      orderedSmall(Staging.drain(ss, out).unionByName(untouched), $"c_custkey")
    },

    "q_scd2" -> { (s, dir) =>
      import s.implicits._
      // SCD Type 2 build ([[MergeOps.scdType2]]): each customer's order feed
      // replays as a change history — (status, priority) are the dimension
      // attributes, every 13th order is a delete, no-op updates collapse —
      // versioned into [valid_from, valid_to) rows with an is_current flag.
      // The orderkey rides along as a carry column (audit id + unique output
      // order) without joining the unchanged-comparison. One hash exchange
      // serves both window passes (plan-guarded in ScdType2Spec).
      val ch = t(s, dir, "orders").select($"o_custkey", $"o_orderkey",
        $"o_orderdate", $"o_orderstatus", $"o_orderpriority",
        when($"o_orderkey" % 13 === 0, "d").otherwise("u").as("op"))
      orderedSmall(
        MergeOps.scdType2(ch, Seq("o_custkey"), "o_orderdate",
          tieCols = Seq($"o_orderkey"), carryCols = Seq("o_orderkey"),
          collapseUnchanged = true),
        $"o_custkey", $"o_orderkey")
    },

    "q_incr_agg" -> { (s, dir) =>
      import s.implicits._
      // Incremental aggregate maintenance ([[MergeOps.refreshAggregate]]):
      // the stored per-nation (count, exact balance sum) aggregate is
      // refreshed from a CDC batch — updates in place (%5), updates that
      // MOVE rows to new groups (%10, nation+100), inserts (%11, shifted
      // keys), deletes (%7) — touching only delta keys, never
      // re-aggregating the base. Keys hit by several ops resolve by last
      // ord. The oracle recomputes the aggregate over the applied snapshot:
      // equality IS the IVM correctness contract.
      val c = t(s, dir, "customer").select($"c_custkey", $"c_nationkey", $"c_acctbal")
      val baseAgg = c.groupBy($"c_nationkey")
        .agg(count(lit(1)).as("cnt"), sum(dec($"c_acctbal")).as("bal_sum"))
      val changes = c.filter($"c_custkey" % 5 === 0)
          .withColumn("c_acctbal", $"c_acctbal" + lit(100.0))
          .withColumn("op", lit("u")).withColumn("ord", lit(1))
        .unionByName(c.filter($"c_custkey" % 10 === 0)
          .withColumn("c_nationkey", $"c_nationkey" + 100)
          .withColumn("op", lit("u")).withColumn("ord", lit(2)))
        .unionByName(c.filter($"c_custkey" % 11 === 0)
          .withColumn("c_custkey", $"c_custkey" + 1000000L)
          .withColumn("op", lit("u")).withColumn("ord", lit(3)))
        .unionByName(c.filter($"c_custkey" % 7 === 0)
          .withColumn("op", lit("d")).withColumn("ord", lit(4)))
      MergeOps.refreshAggregate(baseAgg, c, changes,
          Seq("c_custkey"), Seq("c_nationkey"),
          Seq("bal_sum" -> dec($"c_acctbal")), Seq($"ord"))
        .select($"c_nationkey", $"cnt", $"bal_sum".cast(DoubleType).as("bal_sum"))
        .orderBy($"c_nationkey")
    },

    "q_conform_cast" -> { (s, dir) =>
      import s.implicits._
      // SchemaConform against a synthetic Postgres target table: prunes the
      // columns the table lacks, casts via the pg→spark type map including
      // numeric(p,s) typmod fidelity (reference O5/O6).
      val target = Seq(
        "l_orderkey" -> "bigint",
        "l_linenumber" -> "integer",
        "l_quantity" -> "numeric(12,2)",
        "l_extendedprice" -> "numeric(14,2)",
        "l_returnflag" -> "text",
        "l_shipdate" -> "date").map { case (n, pg) => n -> PgTypeMapping.toSparkType(pg) }.toMap
      // ORDER BY every output column: the fixture's (l_orderkey, l_linenumber)
      // is not unique, and any remaining ties are fully identical rows.
      // The DECIMAL columns are re-rendered as scale-faithful strings ("24.00")
      // AFTER the conform/cast under test: parquet-vs-DuckDB DECIMAL value
      // representations hash differently in the driver compare even when the
      // values are identical, so both engines emit the canonical text form.
      orderedSmall(
        SchemaConform.conform(t(s, dir, "lineitem"), target),
        $"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice",
        $"l_returnflag", $"l_shipdate")
        .withColumn("l_quantity", $"l_quantity".cast("string"))
        .withColumn("l_extendedprice", $"l_extendedprice".cast("string"))
    }
  )

  /** Shared by q_cdc_apply AND q_stream_cdc: last-write-wins application of
    * the [[cdcChangeBatch]] over customer.
    */
  private val cdcApplyOracle =
    """WITH chg AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    c_acctbal + CAST(100 AS DOUBLE) AS c_acctbal, 'u' AS op, 1 AS ord
      |  FROM customer WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, 'u', 2
      |  FROM customer WHERE c_custkey % 11 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, 'd', 3
      |  FROM customer WHERE c_custkey % 7 = 0),
      |last AS (
      |  SELECT * FROM chg
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY ord DESC) = 1)
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM last WHERE op = 'u'
      |UNION ALL
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer t
      |WHERE NOT EXISTS (SELECT 1 FROM chg s WHERE s.c_custkey = t.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Payload row type for the streaming CDC twin (encoder-derivable). */
  final case class CdcCustomer(
      c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double)

  /** The CDC change batch both q_cdc_apply and q_stream_cdc apply: updates
    * (%5, +100 balance, ord 1), inserts (%11, key+1e6, ord 2), deletes
    * (%7, ord 3) — one construction, no twin to drift.
    */
  private def cdcChangeBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer")
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal")
    c.filter($"c_custkey" % 5 === 0)
      .withColumn("c_acctbal", $"c_acctbal" + lit(100.0))
      .withColumn("op", lit("u")).withColumn("ord", lit(1))
      .unionByName(c.filter($"c_custkey" % 11 === 0)
        .withColumn("c_custkey", $"c_custkey" + 1000000L)
        .withColumn("op", lit("u")).withColumn("ord", lit(2)))
      .unionByName(c.filter($"c_custkey" % 7 === 0)
        .withColumn("op", lit("d")).withColumn("ord", lit(3)))
  }

  /** CDC replay for q_stream_cdc: the change batch split into three files
    * by op wave (ord), event time `ts` = (1.7e9 + 60·ord) s as nanosecond
    * BIGINT, plus one far-future null-op sentinel file (it advances the
    * watermark through the pre-filter node and vanishes in the op filter)
    * — the [[Staging.streamDocsDir]] sentinel + pinned-no-data-batch
    * protocol.
    */
  private[queries] def streamCdcDir(s: SparkSession, dir: String): String =
    Staging.dir("streamcdc", dir, "customer") { p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      val ch = cdcChangeBatch(s, dir)
        .withColumn("ts", ((lit(1700000000L) + col("ord") * 60L) * 1000000000L).cast("long"))
      Seq("a_upd.parquet", "b_ins.parquet", "c_del.parquet").zipWithIndex.foreach {
        case (name, i) => Staging.writeOneParquet(ch.filter(col("ord") === i + 1), p, name)
      }
      val maxTs = 1700000000L * 1000000000L + 3L * 60 * 1000000000L
      val monthNs = 30L * 86400 * 1000000000L
      Staging.writeSentinel(s"$p/d_sentinel.parquet", ch.schema,
        Map("ts" -> (maxTs + 10 * monthNs)))
      Staging.stampInNameOrder(p)
    }

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - l_discount AS DECIMAL(8,4))"

  /** One recursion text for BOTH engines (`table` differs only because the
    * Spark side reads a temp view): the strongest form of oracle — the
    * gate compares two executions of the same SQL.
    */
  private def recursiveWalkSql(table: String): String =
    s"""WITH RECURSIVE walk AS (
       |  SELECT l_orderkey, l_linenumber, l_quantity AS cum_qty
       |  FROM $table WHERE l_linenumber = 1
       |  UNION ALL
       |  SELECT n.l_orderkey, n.l_linenumber, w.cum_qty + n.l_quantity
       |  FROM walk w JOIN $table n
       |    ON n.l_orderkey = w.l_orderkey
       |    AND n.l_linenumber = w.l_linenumber + 1)
       |SELECT l_orderkey, l_linenumber, cum_qty FROM walk
       |ORDER BY l_orderkey, l_linenumber, cum_qty""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_sql_recursive" -> recursiveWalkSql("lineitem"),

    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($discPrice) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(l_discount) AS DOUBLE) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_unshipped" ->
      s"""SELECT l_orderkey, CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         |  AND o_orderkey = l_orderkey
         |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
         |GROUP BY l_orderkey
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      s"""SELECT n_name, CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM region, nation, customer, orders, lineitem, supplier
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin,

    "q6_revenue_change" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 25""".stripMargin,

    "q_bloom_semijoin" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         |  CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_orderkey IN
         |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,

    "q_filter_predicates" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderstatus IN ('F','P')
        |  AND o_totalprice BETWEEN 1000.0 AND 250000.0
        |  AND o_orderpriority LIKE '%URGENT%'
        |  AND NOT (o_custkey % 7 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    "q_string_agg" ->
      """SELECT n_name,
        |  string_agg(c_name, ',' ORDER BY c_name) AS customers,
        |  COUNT(*) AS n_customers
        |FROM nation JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q_orderby_limit" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 20""".stripMargin,

    "q_derived_subquery" ->
      """SELECT o_custkey, n_orders, spend FROM (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY o_custkey
        |) a WHERE n_orders >= 2
        |ORDER BY spend DESC, o_custkey LIMIT 5""".stripMargin,

    "q_set_ops" ->
      """SELECT c_custkey, 'rich_buyer' AS tag FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 'rich_no_orders' AS tag FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |  EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY tag, c_custkey""".stripMargin,

    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        |  LAG(o_orderkey, 1) OVER w AS prev_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_window_ranks" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(RANK() OVER wt AS INT) AS rnk,
        |  CAST(DENSE_RANK() OVER wt AS INT) AS drnk,
        |  PERCENT_RANK() OVER wt AS prnk,
        |  CUME_DIST() OVER wt AS cdist,
        |  CAST(NTILE(4) OVER wu AS INT) AS quartile,
        |  LEAD(o_orderkey, 1) OVER wu AS next_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER wu AS first_orderkey
        |FROM orders
        |WINDOW wt AS (PARTITION BY o_custkey ORDER BY o_orderdate),
        |  wu AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q_scalar_array" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |SELECT doc_id,
        |  CAST(len(tk) AS INT) AS n_tokens,
        |  array_to_string(list_sort(list_distinct(tk))[1:5], ',') AS first5,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(tk, x -> CAST(length(x) AS BIGINT))),
        |    (a, x) -> a + x) AS BIGINT) AS sum_len,
        |  CAST(len(list_filter(tk, x -> length(x) > 4)) AS INT) AS n_long,
        |  CAST(list_contains(tk, 'the') AS INT) AS has_the
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  abs(l_extendedprice - 30000.0) AS abs_v,
        |  CAST(floor(l_extendedprice - 30000.0) AS BIGINT) AS floor_v,
        |  CAST(ceil(l_extendedprice - 30000.0) AS BIGINT) AS ceil_v,
        |  CAST(sign(l_extendedprice - 30000.0) AS INT) AS sign_v,
        |  l_orderkey % 97 AS mod97,
        |  sqrt(l_extendedprice) AS sqrt_p,
        |  power(2.0, CAST(l_linenumber % 10 AS DOUBLE)) AS pow2
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin,

    "q_rolling_window" ->
      """SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, event_id,
        |  COUNT(*) OVER w AS n_10m,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS v_10m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_sec, event_id""".stripMargin,

    "q_semi_anti_join" ->
      """SELECT c_nationkey,
        |  CAST(COUNT(o.o_custkey) AS BIGINT) AS with_orders,
        |  CAST(COUNT(*) - COUNT(o.o_custkey) AS BIGINT) AS without_orders
        |FROM customer c LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |  ON c.c_custkey = o.o_custkey
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q_outer_joins" ->
      """SELECT c_custkey,
        |  COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_scalar_string" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up_name,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  substr(p_name, 1, 5) AS pfx,
        |  p_brand || '-' || p_type AS brand_type,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |  replace(p_name, ' ', '_') AS snake_name
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_scalar_datetime" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(day(o_orderdate) AS INT) AS dy,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_scalar_jsonmap" ->
      """SELECT n_nationkey,
        |  json_extract_string(j, '$.name') AS json_name,
        |  CAST(json_extract_string(j, '$.rk') AS INT) AS json_rk,
        |  map(['rk','nk'], [n_regionkey, n_nationkey])['rk'][1] AS map_rk,
        |  array_to_string(map_keys(map(['rk','nk'], [n_regionkey, n_nationkey])), ',') AS map_keys_str
        |FROM (SELECT *,
        |  json_object('name', n_name, 'rk', n_regionkey) AS j
        |  FROM nation) n
        |ORDER BY n_nationkey""".stripMargin,

    "q_case_buckets" ->
      """SELECT o_orderstatus,
        |  CASE WHEN o_totalprice < 50000.0 THEN 'small'
        |       WHEN o_totalprice < 150000.0 THEN 'mid'
        |       ELSE 'large' END AS bucket,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY o_orderstatus, bucket""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_sql_correlated" ->
      """SELECT c.c_custkey, c.c_acctbal,
        |  (SELECT COUNT(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)
        |ORDER BY c.c_custkey""".stripMargin,

    "q_sql_lateral" ->
      """SELECT o.o_orderkey, t.l_linenumber, t.qty
        |FROM orders o JOIN LATERAL (
        |  SELECT l_linenumber, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |  ORDER BY l_quantity DESC, l_linenumber LIMIT 2) t ON TRUE
        |WHERE o.o_orderkey <= 1000
        |ORDER BY o.o_orderkey, t.l_linenumber""".stripMargin,

    // NO quantile_* function (version-sensitive construct family, round-9
    // audit): explicit rank arithmetic mirrors Spark's Percentile bit for
    // bit — position p·(n−1) in doubles, the values at ranks ⌊pos⌋+1 and
    // ⌊pos⌋+2, and the exact interpolation shape
    // (higher−pos)·lo + (pos−lower)·hi (NOT lo+frac·(hi−lo), which rounds
    // differently — verified one ulp apart on this data); integral
    // positions return the lower value unscaled. Every percentage literal
    // is CAST AS DOUBLE: a bare `0.95` is DECIMAL in DuckDB and would run
    // the position arithmetic exact instead of in IEEE doubles.
    "q_percentiles" -> {
      def pos(p: String) = s"(nv - 1) * CAST($p AS DOUBLE)"
      def interp(p: String, lo: String, hi: String) =
        s"""CASE WHEN ${pos(p)} = floor(${pos(p)}) THEN $lo
           |       ELSE (floor(${pos(p)}) + 1.0 - ${pos(p)}) * $lo
           |          + (${pos(p)} - floor(${pos(p)})) * $hi END""".stripMargin
      s"""WITH v AS (SELECT o_orderstatus,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS v
         |  FROM orders),
         |r AS (SELECT o_orderstatus, v,
         |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY v) AS rn,
         |    COUNT(v) OVER (PARTITION BY o_orderstatus) AS nv,
         |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
         |  FROM v),
         |g AS (SELECT o_orderstatus, MAX(n) AS n, MAX(nv) AS nv,
         |    MAX(CASE WHEN rn = CAST(floor(${pos("0.5")}) AS BIGINT) + 1 THEN v END) AS p50_lo,
         |    MAX(CASE WHEN rn = CAST(floor(${pos("0.5")}) AS BIGINT) + 2 THEN v END) AS p50_hi,
         |    MAX(CASE WHEN rn = CAST(floor(${pos("0.95")}) AS BIGINT) + 1 THEN v END) AS p95_lo,
         |    MAX(CASE WHEN rn = CAST(floor(${pos("0.95")}) AS BIGINT) + 2 THEN v END) AS p95_hi
         |  FROM r GROUP BY o_orderstatus)
         |SELECT o_orderstatus,
         |  ${interp("0.5", "p50_lo", "p50_hi")} AS p50,
         |  ${interp("0.95", "p95_lo", "p95_hi")} AS p95,
         |  CAST(n AS BIGINT) AS n
         |FROM g ORDER BY o_orderstatus""".stripMargin
    },

    "q_split_hash" ->
      """WITH h AS (SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text)+1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM h GROUP BY 1 ORDER BY split""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio,
        |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 0.0) AS f_spend,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE), 0.0) AS o_spend,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_n,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'P') AS DOUBLE), 0.0) AS p_spend
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_merge_upsert" ->
      """WITH src AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity + 10 AS l_quantity, 1 AS ord
        |  FROM lineitem WHERE l_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_quantity + 20 AS l_quantity, 2 AS ord
        |  FROM lineitem WHERE l_orderkey % 3 = 0),
        |dedup AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity FROM src
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
        |    ORDER BY ord DESC, l_quantity DESC) = 1)
        |SELECT * FROM dedup
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem t
        |WHERE NOT EXISTS (SELECT 1 FROM src s
        |  WHERE s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber)
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "q_cdc_apply" -> cdcApplyOracle,

    // The streaming twin materializes the same change batch through keyed
    // state and overlays the same untouched rows — identical answer.
    "q_stream_cdc" -> cdcApplyOracle,

    "q_scd2" ->
      """WITH c AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus, o_orderpriority,
        |    CASE WHEN o_orderkey % 13 = 0 THEN 'd' ELSE 'u' END AS op
        |  FROM orders),
        |l AS (
        |  SELECT *,
        |    lag(op) OVER w AS p_op,
        |    lag(o_orderstatus) OVER w AS p_st,
        |    lag(o_orderpriority) OVER w AS p_pr
        |  FROM c WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |s AS (
        |  SELECT * FROM l
        |  WHERE op = 'd' OR p_op IS NULL
        |    OR NOT (p_op = 'u' AND o_orderstatus IS NOT DISTINCT FROM p_st
        |            AND o_orderpriority IS NOT DISTINCT FROM p_pr)),
        |v AS (
        |  SELECT *, lead(o_orderdate) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM s)
        |SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
        |  o_orderdate AS valid_from, valid_to, (valid_to IS NULL) AS is_current
        |FROM v WHERE op = 'u'
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_incr_agg" ->
      """WITH chg AS (
        |  SELECT c_custkey, c_nationkey,
        |    c_acctbal + CAST(100 AS DOUBLE) AS c_acctbal, 'u' AS op, 1 AS ord
        |  FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_nationkey + 100, c_acctbal, 'u', 2
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_nationkey, c_acctbal, 'u', 3
        |  FROM customer WHERE c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_nationkey, c_acctbal, 'd', 4
        |  FROM customer WHERE c_custkey % 7 = 0),
        |last AS (
        |  SELECT * FROM chg
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY ord DESC) = 1),
        |applied AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM last WHERE op = 'u'
        |  UNION ALL
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer t
        |  WHERE NOT EXISTS (SELECT 1 FROM chg s WHERE s.c_custkey = t.c_custkey))
        |SELECT c_nationkey, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_sum
        |FROM applied GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_conform_cast" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l_linenumber AS INT) AS l_linenumber,
        |  CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS l_quantity,
        |  CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR) AS l_extendedprice,
        |  CAST(l_returnflag AS VARCHAR) AS l_returnflag,
        |  CAST(l_shipdate AS DATE) AS l_shipdate
        |FROM lineitem
        |ORDER BY CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS INT),
        |  CAST(l_quantity AS DECIMAL(12,2)), CAST(l_extendedprice AS DECIMAL(14,2)),
        |  CAST(l_returnflag AS VARCHAR), CAST(l_shipdate AS DATE)""".stripMargin
  )
}
