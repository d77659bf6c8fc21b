"""``relational`` workload: seeded MongoDB pipelines over the test tables.

Nine templates of the project's q01/q03/q05/q11/q12/q20/q22/q24/q26
shapes (match/group/project/sort/limit, windows, ``$lookup``, ``$facet``).
Literals -- dates, flags, thresholds, limits -- are drawn from the run's
seed. Ranges that set how many rows a request filters are kept narrow, so
seeds differ in literals and plans more than in the amount of work; each
template has a DuckDB twin on the same parameters.
"""

from __future__ import annotations

import datetime as dt
import random
import time
from pathlib import Path

import pyarrow.parquet as pq

import check
import inputs

_D0 = dt.datetime(1995, 1, 1)  # first order date of the tables


def _day(rng: random.Random, lo_days: int, hi_days: int) -> dt.datetime:
    return _D0 + dt.timedelta(days=rng.randint(lo_days, hi_days))


def _sql_ts(d: dt.datetime) -> str:
    return f"TIMESTAMP '{d:%Y-%m-%d %H:%M:%S}'"


def _cents(field: str) -> dict:
    return {"$toLong": {"$round": [{"$multiply": [field, 100]}, 0]}}


_CENTS_SQL = "CAST(round({} * 100, 0) AS BIGINT)"


class Template:
    """One pipeline shape: ``draw`` makes parameters, ``pipeline`` the
    MongoDB pipeline, ``sql`` the DuckDB twin; ``source`` names the
    collection whose rows count as the request's input items."""

    name = ""
    source = ""

    def draw(self, rng: random.Random) -> dict:
        raise NotImplementedError

    def pipeline(self, p: dict) -> list:
        raise NotImplementedError

    def sql(self, p: dict) -> str:
        raise NotImplementedError


class Q01(Template):
    name, source = "q01_group_agg", "lineitem"

    def draw(self, rng):
        return {"cutoff": dt.datetime(1998, 12, 1) - dt.timedelta(days=rng.randint(60, 120))}

    def pipeline(self, p):
        return [
            {"$match": {"l_shipdate": {"$lte": p["cutoff"]}}},
            {"$addFields": {"price_cents": _cents("$l_extendedprice")}},
            {"$group": {
                "_id": {"rf": "$l_returnflag", "ls": "$l_linestatus"},
                "sum_qty": {"$sum": "$l_quantity"},
                "sum_price_cents": {"$sum": "$price_cents"},
                "avg_qty": {"$avg": "$l_quantity"},
                "count_order": {"$sum": 1},
            }},
            {"$project": {"_id": 0, "l_returnflag": "$_id.rf", "l_linestatus": "$_id.ls",
                          "sum_qty": 1, "sum_price_cents": 1, "avg_qty": 1, "count_order": 1}},
            {"$sort": {"l_returnflag": 1, "l_linestatus": 1}},
        ]

    def sql(self, p):
        return f"""
            SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                   sum({_CENTS_SQL.format('l_extendedprice')}) AS sum_price_cents,
                   avg(l_quantity) AS avg_qty, count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= {_sql_ts(p['cutoff'])}
            GROUP BY 1, 2"""


class Q03(Template):
    name, source = "q03_complex", "orders"

    def draw(self, rng):
        return {"status": rng.choice(["F", "O", "P"]), "since": _day(rng, 0, 200),
                "limit": rng.randint(5, 20)}

    def pipeline(self, p):
        return [
            {"$match": {"o_orderstatus": {"$ne": p["status"]},
                        "o_orderdate": {"$gte": p["since"]}}},
            {"$project": {"_id": 0, "status": "$o_orderstatus",
                          "month": {"$month": "$o_orderdate"},
                          "price_cents": _cents("$o_totalprice")}},
            {"$group": {"_id": {"status": "$status", "month": "$month"},
                        "revenue_cents": {"$sum": "$price_cents"}, "n": {"$sum": 1}}},
            {"$project": {"_id": 0, "status": "$_id.status", "month": "$_id.month",
                          "revenue_cents": 1, "n": 1}},
            {"$sort": {"revenue_cents": -1, "status": 1, "month": 1}},
            {"$limit": p["limit"]},
        ]

    def sql(self, p):
        return f"""
            SELECT o_orderstatus AS status, month(o_orderdate) AS month,
                   sum({_CENTS_SQL.format('o_totalprice')}) AS revenue_cents,
                   count(*) AS n
            FROM orders
            WHERE o_orderstatus <> '{p['status']}' AND o_orderdate >= {_sql_ts(p['since'])}
            GROUP BY 1, 2 ORDER BY revenue_cents DESC, status, month LIMIT {p['limit']}"""


class Q05(Template):
    name, source = "q05_tokens", "documents"

    def draw(self, rng):
        return {"min_chars": rng.randint(0, 60), "limit": rng.randint(10, 30)}

    def pipeline(self, p):
        return [
            {"$match": {"n_chars": {"$gte": p["min_chars"]}}},
            {"$addFields": {"token": {"$split": ["$text", " "]}}},
            {"$unwind": "$token"},
            {"$group": {"_id": "$token", "n": {"$sum": 1}}},
            {"$project": {"_id": 0, "token": "$_id", "n": 1}},
            {"$sort": {"n": -1, "token": 1}},
            {"$limit": p["limit"]},
        ]

    def sql(self, p):
        return f"""
            SELECT token, count(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents
                  WHERE n_chars >= {p['min_chars']})
            GROUP BY 1 ORDER BY n DESC, token LIMIT {p['limit']}"""


class Q11(Template):
    name, source = "q11_window", "orders"

    def draw(self, rng):
        return {"since": _day(rng, 1150, 1250), "days": rng.randint(7, 60)}

    def pipeline(self, p):
        return [
            {"$match": {"o_orderdate": {"$gte": p["since"]}}},
            {"$addFields": {"cents": _cents("$o_totalprice")}},
            {"$setWindowFields": {
                "partitionBy": "$o_custkey",
                "sortBy": {"o_orderdate": 1, "o_orderkey": 1},
                "output": {
                    "running_cents": {"$sum": "$cents",
                                      "window": {"documents": ["unbounded", "current"]}},
                    "rnk": {"$rank": {}},
                    "total_cents": {"$sum": "$cents"},
                }}},
            {"$setWindowFields": {
                "partitionBy": "$o_custkey",
                "sortBy": {"o_orderdate": 1},
                "output": {"cents_nd": {"$sum": "$cents",
                                        "window": {"range": [-p["days"], 0], "unit": "day"}}},
            }},
            {"$project": {"_id": 0, "o_custkey": 1, "o_orderkey": 1, "running_cents": 1,
                          "rnk": 1, "total_cents": 1, "cents_nd": 1}},
            {"$sort": {"o_custkey": 1, "o_orderkey": 1}},
        ]

    def sql(self, p):
        c = _CENTS_SQL.format("o_totalprice")
        return f"""
            SELECT o_custkey, o_orderkey,
                   sum({c}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_cents,
                   rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rnk,
                   sum({c}) OVER (PARTITION BY o_custkey) AS total_cents,
                   sum({c}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                        RANGE BETWEEN INTERVAL {p['days']} DAY PRECEDING AND CURRENT ROW)
                        AS cents_nd
            FROM orders WHERE o_orderdate >= {_sql_ts(p['since'])}"""


class Q12(Template):
    name, source = "q12_topk", "orders"

    def draw(self, rng):
        return {"top": rng.randint(5, 25), "skip": rng.randint(50, 500),
                "page": rng.randint(10, 30)}

    def pipeline(self, p):
        return [
            {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
            {"$limit": p["top"]},
            {"$project": {"_id": 0, "src": {"$literal": "top"},
                          "o_orderkey": 1, "o_totalprice": 1}},
            {"$unionWith": {"coll": "orders", "pipeline": [
                {"$sort": {"o_orderdate": 1, "o_orderkey": 1}},
                {"$skip": p["skip"]},
                {"$limit": p["page"]},
                {"$project": {"_id": 0, "src": {"$literal": "page"},
                              "o_orderkey": 1, "o_totalprice": 1}},
            ]}},
        ]

    def sql(self, p):
        return f"""
            SELECT * FROM (SELECT 'top' AS src, o_orderkey, o_totalprice FROM orders
                           ORDER BY o_totalprice DESC, o_orderkey LIMIT {p['top']})
            UNION ALL
            SELECT * FROM (SELECT 'page' AS src, o_orderkey, o_totalprice FROM orders
                           ORDER BY o_orderdate, o_orderkey
                           LIMIT {p['page']} OFFSET {p['skip']})"""


class Q20(Template):
    name, source = "q20_lookup_pipeline", "orders"

    def draw(self, rng):
        return {"qty": rng.randint(44, 47)}

    def pipeline(self, p):
        return [
            {"$lookup": {
                "from": "lineitem", "let": {"oid": "$o_orderkey"},
                "pipeline": [{"$match": {"$expr": {"$and": [
                    {"$eq": ["$l_orderkey", "$$oid"]},
                    {"$gte": ["$l_quantity", p["qty"]]},
                ]}}}],
                "as": "big_items"}},
            {"$addFields": {"n_big": {"$toLong": {"$size": "$big_items"}}}},
            {"$match": {"n_big": {"$gt": 0}}},
            {"$project": {"_id": 0, "o_orderkey": 1, "n_big": 1}},
        ]

    def sql(self, p):
        return f"""
            SELECT o_orderkey, count(*) AS n_big
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey AND l_quantity >= {p['qty']}
            GROUP BY 1"""


class Q22(Template):
    name, source = "q22_sessionize", "events"

    def draw(self, rng):
        return {"gap_ms": rng.randint(15, 60) * 60_000}

    def pipeline(self, p):
        return [
            {"$setWindowFields": {
                "partitionBy": "$user_id", "sortBy": {"ts": 1, "event_id": 1},
                "output": {"prev_ts": {"$shift": {"output": "$ts", "by": -1}}},
            }},
            {"$addFields": {"is_new": {"$cond": [
                {"$or": [{"$eq": ["$prev_ts", None]},
                         {"$gt": [{"$subtract": ["$ts", "$prev_ts"]}, p["gap_ms"]]}]},
                1, 0]}}},
            {"$setWindowFields": {
                "partitionBy": "$user_id", "sortBy": {"ts": 1, "event_id": 1},
                "output": {"session_idx": {"$sum": "$is_new",
                                           "window": {"documents": ["unbounded", "current"]}}},
            }},
            {"$group": {"_id": {"u": "$user_id", "s": "$session_idx"},
                        "n_events": {"$sum": 1},
                        "t_start": {"$min": "$ts"}, "t_end": {"$max": "$ts"}}},
            {"$project": {"_id": 0, "user_id": "$_id.u", "session_idx": "$_id.s",
                          "n_events": 1, "t_start": 1, "t_end": 1}},
        ]

    def sql(self, p):
        return f"""
            WITH lagged AS (
              SELECT user_id, ts, event_id,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events),
            flagged AS (
              SELECT *, CASE WHEN prev_ts IS NULL
                              OR epoch_ms(ts) - epoch_ms(prev_ts) > {p['gap_ms']}
                         THEN 1 ELSE 0 END AS is_new FROM lagged),
            sess AS (
              SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
              FROM flagged)
            SELECT user_id, session_idx, count(*) AS n_events,
                   min(ts) AS t_start, max(ts) AS t_end
            FROM sess GROUP BY 1, 2"""


class Q24(Template):
    name, source = "q24_facet", "orders"

    def draw(self, rng):
        return {"big": rng.randint(100, 400) * 1000, "top": rng.randint(3, 10)}

    def pipeline(self, p):
        return [
            {"$facet": {
                "by_status": [{"$group": {"_id": "$o_orderstatus", "n": {"$sum": 1}}},
                              {"$sort": {"_id": 1}}],
                "top_orders": [{"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
                               {"$limit": p["top"]},
                               {"$project": {"_id": 0, "o_orderkey": 1}}],
                "big_count": [{"$match": {"o_totalprice": {"$gt": p["big"]}}},
                              {"$count": "n"}],
            }},
            {"$project": {"_id": 0,
                          "by_status": {"$toJsonString": "$by_status"},
                          "top_orders": {"$toJsonString": "$top_orders"},
                          "big_count": {"$toJsonString": "$big_count"}}},
        ]

    def sql(self, p):
        return f"""
            SELECT
              (SELECT to_json(list(struct_pack(_id := o_orderstatus, n := n)
                              ORDER BY o_orderstatus))
               FROM (SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1))::VARCHAR
                AS by_status,
              (SELECT to_json(list(struct_pack(o_orderkey := o_orderkey)
                              ORDER BY o_totalprice DESC, o_orderkey))
               FROM (SELECT o_orderkey, o_totalprice FROM orders
                     ORDER BY o_totalprice DESC, o_orderkey LIMIT {p['top']}))::VARCHAR
                AS top_orders,
              (SELECT to_json([struct_pack(n := count(*))])
               FROM orders WHERE o_totalprice > {p['big']})::VARCHAR AS big_count"""


class Q26(Template):
    name, source = "q26_lookup_group", "customer"

    def draw(self, rng):
        return {"segment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])}

    def pipeline(self, p):
        return [
            {"$match": {"c_mktsegment": {"$ne": p["segment"]}}},
            {"$lookup": {"from": "nation", "localField": "c_nationkey",
                         "foreignField": "n_nationkey", "as": "nat"}},
            {"$unwind": "$nat"},
            {"$lookup": {"from": "orders", "localField": "c_custkey",
                         "foreignField": "o_custkey", "as": "ords"}},
            {"$unwind": "$ords"},
            {"$addFields": {"cents": _cents("$ords.o_totalprice")}},
            {"$group": {"_id": "$nat.n_name", "revenue_cents": {"$sum": "$cents"},
                        "n_orders": {"$sum": 1}}},
            {"$project": {"_id": 0, "nation": "$_id", "revenue_cents": 1, "n_orders": 1}},
            {"$sort": {"nation": 1}},
        ]

    def sql(self, p):
        return f"""
            SELECT n_name AS nation,
                   sum({_CENTS_SQL.format('o_totalprice')}) AS revenue_cents,
                   count(*) AS n_orders
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN orders ON o_custkey = c_custkey
            WHERE c_mktsegment <> '{p['segment']}'
            GROUP BY 1"""


TEMPLATES = [Q01(), Q03(), Q05(), Q11(), Q12(), Q20(), Q22(), Q24(), Q26()]
TABLES = ["nation", "customer", "orders", "lineitem", "events", "documents"]  # the ones read


class Workload(inputs.BatchWorkload):
    """Each round runs every template once on a fresh parameter draw and,
    after every third request, repeats an earlier pipeline exactly (a
    quarter of all requests): one of the three templates just run, in
    rotation across rounds, on one of its draws so far picked Zipf-skewed
    towards the earliest. The repeats are what the engine's translated-plan
    cache, or a result-reuse change, can serve; the rotation keeps every
    seed's template mix the same."""

    name = "relational"
    python_workers = False  # whether requests run Python UDFs
    items_unit = "source-collection rows (sf0.1: 600k lineitem, 150k orders, 100k events)"
    nominal_round_s = 10.0
    zipf_s = 1.1

    def __init__(self, root: Path, cache: Path, seed: int, scale: str):
        super().__init__(seed)
        self.dir = inputs.relational_tables(root, cache, 0.1 if scale == "full" else 0.001)
        self.rows = {t: pq.ParquetFile(self.dir / f"{t}.parquet").metadata.num_rows
                     for t in TABLES}
        self.engine = None

    def setup(self, spark) -> float:
        import aggo_spark

        t0 = time.perf_counter()
        tables = aggo_spark.load_tables(spark, str(self.dir), names=TABLES)
        load_s = time.perf_counter() - t0
        self.engine = aggo_spark.Engine(tables)
        return load_s

    def teardown(self) -> None:
        self.engine = None

    def _check(self, tpl: Template, p: dict) -> str | None:
        import duckdb

        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.dir / t}.parquet')")
            want = check.duck_digest(con, tpl.sql(p))
        return check.compare(check.spark_digest(self.engine.aggregate(tpl.source, tpl.pipeline(p))),
                             want)

    def _request(self, tpl: Template, p: dict, pipeline: list) -> inputs.Request:
        return inputs.Request(
            "batch", tpl.name, self.rows[tpl.source], len(pipeline),
            build=lambda: self.engine.aggregate(tpl.source, pipeline),
            check=lambda: self._check(tpl, p))

    def rounds(self, n: int):
        draws: dict[str, list[tuple]] = {t.name: [] for t in TEMPLATES}
        for rnd in range(n):
            batch = []
            for pos, tpl in enumerate(TEMPLATES):
                p = tpl.draw(self.rng)
                draws[tpl.name].append((tpl, p, tpl.pipeline(p)))
                batch.append(self._request(*draws[tpl.name][-1]))
                if pos % 3 == 2:
                    seen = draws[TEMPLATES[pos - 2 + rnd % 3].name]
                    w = [1.0 / (r + 1) ** self.zipf_s for r in range(len(seen))]
                    batch.append(self._request(*self.rng.choices(seen, w)[0]))
            yield batch
