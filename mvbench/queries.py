"""The sql_adhoc query mix: twelve SQL texts with seeded parameters.

Each query has a Spark text (run by the engine through `spark.sql`) and a
DuckDB text (run by the oracle). They are the same text except for the
recursive query, whose `WITH MUTUALLY RECURSIVE` form is the engine's
dialect and `WITH RECURSIVE` is DuckDB's. Every ORDER BY ... LIMIT ends in a
unique key, so the oracle and the engine agree on which rows make the cut.
Money is integer cents, so sums are exact in both engines.
"""
import datetime

TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "edges"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPE_PREFIXES = ["PROMO ANODIZED", "STANDARD POLISHED", "ECONOMY BRUSHED",
                 "LARGE PLATED", "MEDIUM BURNISHED"]
CONTAINERS = ["SM BOX", "MED BOX", "LG CASE", "JUMBO PKG", "WRAP BAG", "SM PACK"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _date(rng, lo_days, hi_days):
    d = datetime.date(1992, 1, 1) + datetime.timedelta(days=int(rng.integers(lo_days, hi_days)))
    return d.isoformat()


def _plus(iso, days):
    return (datetime.date.fromisoformat(iso) + datetime.timedelta(days=days)).isoformat()


def mix(rng, info):
    """The query mix for one seed: a list of {name, spark, duckdb}."""
    q = []

    def add(name, sql, duck=None):
        q.append({"name": name, "spark": sql, "duckdb": duck or sql})

    d1 = _date(rng, 2200, 2400)
    add("q01_pricing_summary", f"""
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base,
       sum(l_extendedprice * (100 - l_discount)) AS sum_disc,
       avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS n
FROM lineitem WHERE l_shipdate <= DATE '{d1}'
GROUP BY l_returnflag, l_linestatus""")

    seg = SEGMENTS[int(rng.integers(0, 5))]
    d3 = _date(rng, 1000, 1400)
    add("q03_shipping_priority", f"""
SELECT l_orderkey, sum(l_extendedprice * (100 - l_discount)) AS revenue,
       o_orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d3}'
  AND l_shipdate > DATE '{d3}'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10""")

    reg = REGIONS[int(rng.integers(0, 5))]
    d5 = _date(rng, 0, 1800)
    add("q05_local_supplier", f"""
SELECT n_name, sum(l_extendedprice * (100 - l_discount)) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{reg}' AND o_orderdate >= DATE '{d5}'
  AND o_orderdate < DATE '{_plus(d5, 365)}'
GROUP BY n_name""")

    d6 = _date(rng, 0, 1800)
    disc = int(rng.integers(2, 9))
    add("q06_forecast_revenue", f"""
SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n
FROM lineitem
WHERE l_shipdate >= DATE '{d6}' AND l_shipdate < DATE '{_plus(d6, 365)}'
  AND l_discount BETWEEN {disc - 1} AND {disc + 1} AND l_quantity < 24""")

    d10 = _date(rng, 0, 2200)
    add("q10_returned_items", f"""
SELECT c_custkey, c_name, sum(l_extendedprice * (100 - l_discount)) AS revenue,
       c_acctbal, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '{d10}' AND o_orderdate < DATE '{_plus(d10, 90)}'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""")

    m1, m2 = sorted(int(i) for i in rng.choice(7, 2, replace=False))
    d12 = _date(rng, 0, 1800)
    add("q12_shipping_modes", f"""
SELECT l_shipmode,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipmode IN ('{SHIPMODES[m1]}', '{SHIPMODES[m2]}')
  AND l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
  AND l_receiptdate >= DATE '{d12}' AND l_receiptdate < DATE '{_plus(d12, 365)}'
GROUP BY l_shipmode""")

    d14 = _date(rng, 0, 2300)
    add("q14_promotion_effect", f"""
SELECT sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (100 - l_discount) ELSE 0 END)
         AS promo,
       sum(l_extendedprice * (100 - l_discount)) AS total
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '{d14}' AND l_shipdate < DATE '{_plus(d14, 30)}'""")

    brand = f"Brand#{int(rng.integers(11, 56))}"
    cont = CONTAINERS[int(rng.integers(0, len(CONTAINERS)))]
    add("q17_small_quantity", f"""
SELECT sum(l_extendedprice) AS lost, count(*) AS n
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = '{brand}' AND p_container = '{cont}'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)""")

    qmin = int(rng.integers(180, 230))
    add("q18_large_volume", f"""
SELECT c_custkey, o_orderkey, o_totalprice, sum(l_quantity) AS qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                     HAVING sum(l_quantity) > {qmin})
GROUP BY c_custkey, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""")

    d4 = _date(rng, 0, 2200)
    add("q04_order_priority", f"""
SELECT o_orderpriority, count(*) AS n
FROM orders
WHERE o_orderdate >= DATE '{d4}' AND o_orderdate < DATE '{_plus(d4, 90)}'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate)
GROUP BY o_orderpriority""")

    dw = _date(rng, 0, 1800)
    add("w01_top_customers", f"""
SELECT c_nationkey, c_custkey, total, rnk FROM (
  SELECT c_nationkey, c_custkey, sum(o_totalprice) AS total,
         rank() OVER (PARTITION BY c_nationkey
                      ORDER BY sum(o_totalprice) DESC, c_custkey) AS rnk
  FROM customer JOIN orders ON c_custkey = o_custkey
  WHERE o_orderdate >= DATE '{dw}' AND o_orderdate < DATE '{_plus(dw, 180)}'
  GROUP BY c_nationkey, c_custkey) t
WHERE rnk <= 3""")

    start = int(rng.integers(0, info["width"]))
    body = f"""SELECT dst FROM edges WHERE src = {start}
    UNION
    SELECT e.dst FROM reach r JOIN edges e ON r.node = e.src"""
    tail = "SELECT count(*) AS n, sum(node) AS s FROM reach"
    add("r01_reachability",
        f"WITH MUTUALLY RECURSIVE\n  reach (node bigint) AS (\n    {body}\n  )\n{tail}",
        f"WITH RECURSIVE reach(node) AS (\n    {body}\n)\n{tail}")
    return q
