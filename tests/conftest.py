import contextlib
import dataclasses
import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from hyper_storage_spark.session import get_spark

    s = get_spark("hyper_storage_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


class Routes:
    """The two routes of a collection query (store/query.py): the
    driver, which serves every test-sized source under the default
    ``DRIVER_MAX_ROWS``, and Spark, forced by a bound below every
    source."""

    def __init__(self, monkeypatch):
        from hyper_storage_spark.store import query as qmod

        self.qmod = qmod
        self.monkeypatch = monkeypatch
        self.bounds = {"driver": qmod.DRIVER_MAX_ROWS, "spark": -1}
        self.pinned = None

    def pin(self, route: str) -> None:
        """Run every query on ``route`` alone from now on."""
        self.pinned = route
        self.monkeypatch.setattr(self.qmod, "DRIVER_MAX_ROWS", self.bounds[route])

    def wrap_store(self) -> None:
        """Run each DocumentStore.query, query_paged and explain call on
        both routes, unless a route is pinned: both must give the same
        items, plan (but for its ``driver`` flag) and select trace, or
        raise the same error. The driver's answer is returned."""
        from hyper_storage_spark.store import DocumentStore

        for name in ("query", "query_paged", "explain"):
            self.monkeypatch.setattr(DocumentStore, name, self._dual(getattr(DocumentStore, name)))

    def _dual(self, real):
        def run(store, *args, **kwargs):
            if self.pinned is not None:
                return real(store, *args, **kwargs)
            out = {}
            for route in ("spark", "driver"):
                self.monkeypatch.setattr(self.qmod, "DRIVER_MAX_ROWS", self.bounds[route])
                try:
                    out[route] = real(store, *args, **kwargs)
                except Exception as e:  # noqa: BLE001 - compared across routes, then re-raised
                    out[route] = e
            got, want = out["driver"], out["spark"]
            if isinstance(got, Exception) or isinstance(want, Exception):
                assert (type(got), str(got)) == (type(want), str(want)), (got, want)
                raise got
            assert _answer(got, True) == _answer(want, False)
            return got

        return run

    @contextlib.contextmanager
    def spark_work(self, spark):
        """Count the Spark jobs and py4j calls made inside the block."""
        sc = spark.sparkContext
        group = f"routes-probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        client = sc._gateway._gateway_client
        counts = {"py4j": 0, "jobs": 0}
        real = client.send_command

        def counted(*args, **kwargs):
            counts["py4j"] += 1
            return real(*args, **kwargs)

        client.send_command = counted
        try:
            yield counts
        finally:
            client.send_command = real
            counts["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)


def _answer(res, driver: bool):
    """What must match across routes: the items, plan and select trace
    of a query, the plan of an explain. The plan must name the route
    that served it."""
    plan = getattr(res, "plan", res)
    assert plan.driver is driver
    plan = dataclasses.replace(plan, driver=False)
    if not hasattr(res, "plan"):  # explain
        return plan
    return res.items, plan, getattr(res, "selects", None)


@pytest.fixture()
def routes(monkeypatch):
    """Every collection query of the test runs on both routes with equal
    answers (:class:`Routes`); ``routes.pin`` opts out."""
    r = Routes(monkeypatch)
    r.wrap_store()
    return r
