"""Driver route vs Spark route of a collection query, by collection size.

store/query.py serves a query on the driver when its source bucket holds
at most ``DRIVER_MAX_ROWS`` raw rows, and by a Spark job above that.
This measures both routes on the same store at each size: a bulk-loaded
collection of N items with a decimal index, queried with an
index-served range page and a residual scan page (20 rows each), both
with the routing bound forced each way. Every page is asserted
identical on the two routes. Prints one JSON line: per size and query,
the median milliseconds of each route.

Usage: python tools/query_routes.py [N ...]   (default 2000 10000 40000)
"""

from __future__ import annotations

import json
import statistics
import sys
import tempfile
import time

sys.path.insert(0, ".")

REPEATS = 7
ROUTES = {"driver": 10**12, "spark": -1}


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [2000, 10000, 40000]

    from hyper_storage_spark.session import get_spark
    from hyper_storage_spark.store import DocumentStore

    spark = get_spark("query_routes", cpus=4)
    out: dict[str, dict] = {}
    for n in sizes:
        with tempfile.TemporaryDirectory(prefix="query_routes_") as root:
            out[str(n)] = measure(spark, DocumentStore(root, spark=spark), n)
    print(json.dumps({"metric": "query_route_ms", "repeats": REPEATS, "sizes": out}))


def measure(spark, store, n: int) -> dict:
    """Per query, the median ms of each route over a collection of ``n``
    items loaded into ``store``."""
    from pyspark.sql import functions as F

    from hyper_storage_spark.plans import SortBy, SortItem
    from hyper_storage_spark.store import query as qmod

    rows = spark.range(n).select(
        F.format_string("i%08d", F.col("id")).alias("item"),
        ((F.col("id") * 7919) % 100_000).alias("price"),
        ((F.col("id") * 104729) % 100).alias("a"),
        F.concat(F.lit("t"), (F.col("id") % 10).cast("string")).alias("tag"),
        F.repeat(F.lit("x"), 200).alias("payload"),
    )
    store.ingest_collection(rows, "c~", "item")
    store.create_index("c~", "by_price", [SortItem("price", "decimal", "asc")], None)
    cases = {
        "range": dict(filter="price >= 40000 and price < 48000", sort=[SortBy("price")], size=20),
        "residual_scan": dict(filter='tag = "t3" and a < 40', size=20),
    }
    out = {}
    for name, kw in cases.items():
        times: dict[str, list[float]] = {r: [] for r in ROUTES}
        for _ in range(REPEATS):  # alternate the routes
            pages = {}
            for route, bound in ROUTES.items():
                qmod.DRIVER_MAX_ROWS = bound
                t0 = time.perf_counter()
                res = store.query("c~", **kw)
                times[route].append((time.perf_counter() - t0) * 1000)
                assert res.plan.driver is (route == "driver")
                pages[route] = res.items
            assert pages["driver"] == pages["spark"], (n, name)
        out[name] = {r: round(statistics.median(t), 1) for r, t in times.items()}
    return out


if __name__ == "__main__":
    main()
