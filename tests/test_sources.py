"""Sources: HTTP rates with daily memo, JDBC plumbing, incremental
write-back surrogate, generator determinism."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from orders_currency_conversion_etl_spark.operators.generate import generate_orders
from orders_currency_conversion_etl_spark.operators.incremental import mark_processed
from orders_currency_conversion_etl_spark.sources.http_rates import (
    DailyMemo,
    get_currencies,
    get_exchange_rates,
)
from orders_currency_conversion_etl_spark.sources.jdbc import jdbc_scan_options

TODAY = dt.date(2026, 1, 1)


def test_rates_fetch_normalizes_and_memoizes(tmp_path):
    calls = []

    def fake_fetch(url):
        calls.append(url)
        return {"rates": {"USD": 1.0, "EUR": 0.5, "JPY": 150.0}}

    memo = DailyMemo(str(tmp_path / "memo.json"))
    r1 = get_exchange_rates("http://x/latest.json", TODAY, memo, fake_fetch)
    r2 = get_exchange_rates("http://x/latest.json", TODAY, memo, fake_fetch)
    assert r1 == {"USD": 2.0, "EUR": 1.0, "JPY": 300.0}
    assert r2 == r1
    assert len(calls) == 1  # second hit served from the daily memo

    # next day: cache stale, refetches
    get_exchange_rates("http://x/latest.json", TODAY + dt.timedelta(days=1), memo, fake_fetch)
    assert len(calls) == 2


def test_rates_fetch_requires_eur():
    with pytest.raises(ValueError):
        get_exchange_rates("u", TODAY, None, lambda u: {"rates": {"USD": 1.0}})
    with pytest.raises(ValueError):
        get_exchange_rates("u", TODAY, None, lambda u: {})


def test_currencies_memoized(tmp_path):
    calls = []

    def fake_fetch(url):
        calls.append(url)
        return {"USD": "US Dollar", "EUR": "Euro"}

    memo = DailyMemo(str(tmp_path / "memo.json"))
    assert get_currencies("u", TODAY, memo, fake_fetch) == ["EUR", "USD"]
    assert get_currencies("u", TODAY, memo, fake_fetch) == ["EUR", "USD"]
    assert len(calls) == 1


def test_jdbc_reader_composes_pushdown():
    """No DB here — assert the scan is configured with the pushed-down
    projection + incremental predicate + partitioned-scan options."""
    opts = jdbc_scan_options(
        url="jdbc:postgresql://db:5432/orders",
        table="orders",
        columns=("order_id", "amount", "currency"),
        partition_column="created_epoch",
        num_partitions=16,
    )
    assert "processed_at IS NULL" in opts["dbtable"]
    assert "order_id, amount, currency" in opts["dbtable"]
    assert opts["numPartitions"] == "16"
    assert opts["fetchsize"] == "1000"


def test_mark_processed_stamps_only_batch(spark):
    src = generate_orders(spark, n=100, seed=3)
    batch = src.limit(40).select("order_id")
    ts = F.lit(dt.datetime(2026, 1, 2)).cast("timestamp")
    marked = mark_processed(src, batch, key="order_id", ts_col=ts)
    assert marked.filter(F.col("processed_at").isNotNull()).count() == 40
    assert marked.count() == 100


def test_generator_is_deterministic(spark):
    a = generate_orders(spark, n=200, seed=9).collect()
    b = generate_orders(spark, n=200, seed=9).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    ids = {r.order_id for r in a}
    assert len(ids) == 200  # unique uuid-format ids
    assert all("@example.com" in r.customer_email for r in a)


@pytest.mark.parametrize(
    "kwargs",
    [
        {"base_time": dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)},
        {"base_time": dt.datetime(2026, 1, 1, 0, 0, 0, 500)},
        {"currencies": ("EUR", "US'D")},
        {"currencies": ("EUR", "usd")},
    ],
    ids=["tz_aware_time", "microseconds", "quote_in_code", "lower_case_code"],
)
def test_generator_rejects_inputs_its_sql_cannot_hold(spark, kwargs):
    """The generator pastes base_time and the currency codes into SQL:
    a zone, a fraction of a second or a code that is not three
    upper-case letters is refused, not silently dropped or spliced."""
    with pytest.raises(ValueError):
        generate_orders(spark, n=10, **kwargs)


def test_generator_rejects_non_integer_seed(spark):
    with pytest.raises(TypeError):
        generate_orders(spark, n=10, seed="1'), '")


def test_generator_ids_depend_on_seed(spark):
    """Each generator run gets fresh order ids, like the reference's
    uuid4 (reference: dags/order_generator_dag.py:66): two seeds give
    disjoint ids, so the incremental anti-join does not drop a second
    run as already processed; the same seed reproduces its ids; the
    registered query still matches its DuckDB oracle."""
    import __spark_entry__ as entry_mod
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare_query

    def ids(seed):
        return {r.order_id for r in generate_orders(spark, n=500, seed=seed).collect()}

    a, b = ids(1), ids(2)
    assert len(a) == len(b) == 500
    assert not (a & b)
    assert ids(1) == a
    compare_query(
        spark,
        SF_SMOKE,
        entry_mod.queries()["generate_orders_seeded"],
        entry_mod.oracle_sql()["generate_orders_seeded"],
    )


# --------------------------------------------------------------------------
# Real-transport HTTP e2e over a loopback server (upgrades S2/S3/S7
# from injected-transport unit tests to the actual urllib path)
# --------------------------------------------------------------------------


class _FixtureHandler:
    """Request handler factory serving the OpenExchangeRates-shaped
    fixtures the reference consumes (rates: {'rates': {...}};
    currencies: {code: name})."""

    def __new__(cls):
        import http.server
        import json as _json

        class H(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                if self.path == "/latest.json":
                    body = _json.dumps(
                        {"rates": {"EUR": 0.9, "USD": 1.0, "GBP": 0.77, "JPY": 142.4}}
                    ).encode()
                    self.send_response(200)
                elif self.path == "/currencies.json":
                    body = _json.dumps(
                        {"USD": "US Dollar", "EUR": "Euro", "GBP": "Pound"}
                    ).encode()
                    self.send_response(200)
                else:
                    body = b"{}"
                    self.send_response(404)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # keep pytest output clean
                pass

        return H


@pytest.fixture()
def loopback_server():
    import http.server
    import threading

    srv = http.server.HTTPServer(("127.0.0.1", 0), _FixtureHandler())
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        t.join(timeout=5)


def test_rates_over_real_http_normalize_and_memo(tmp_path, loopback_server):
    """The default urllib transport end-to-end: fetch -> EUR
    normalization -> daily memo; second call must hit the memo (the
    server is shut down first to prove it)."""
    memo = DailyMemo(str(tmp_path / "memo.json"))
    rates = get_exchange_rates(loopback_server + "/latest.json", TODAY, memo=memo)
    assert rates["EUR"] == 1.0  # normalized base
    assert abs(rates["USD"] - 1.0 / 0.9) < 1e-12
    assert abs(rates["JPY"] - 142.4 / 0.9) < 1e-12

    cached = get_exchange_rates("http://127.0.0.1:1/unreachable", TODAY, memo=memo)
    assert cached == {k: float(v) for k, v in rates.items()}


def test_currencies_over_real_http(loopback_server):
    codes = get_currencies(loopback_server + "/currencies.json", TODAY)
    assert codes == ["EUR", "GBP", "USD"]


def test_http_404_raises(loopback_server):
    with pytest.raises(Exception):
        get_exchange_rates(loopback_server + "/missing.json", TODAY)


def test_flagship_conversion_from_real_http_rates(spark, tmp_path, loopback_server):
    """Full S2->F4->J1 chain with a REAL network hop: HTTP fetch,
    EUR-base normalization, rates_df broadcast join, decimal
    conversion — the reference's daily dataflow end-to-end."""
    import datetime as _dt

    from orders_currency_conversion_etl_spark.operators.convert import (
        convert_orders,
        orders_src_from_tpch,
    )
    from orders_currency_conversion_etl_spark.sources import catalog
    from orders_currency_conversion_etl_spark.sources.rates import rates_df

    rates = get_exchange_rates(loopback_server + "/latest.json", TODAY)
    rdf = rates_df(spark, rates)
    src = orders_src_from_tpch(catalog.load_table(spark, "/root/testdata/sf0.001", "orders"))
    out = convert_orders(src, rdf, conversion_time=_dt.datetime(2026, 1, 1))
    rows = {r.original_currency: r for r in out.collect() if r.original_currency in ("EUR", "USD")}
    assert rows["EUR"].amount_eur == rows["EUR"].original_amount  # EUR passthrough
    usd = rows["USD"]
    import decimal as _decimal

    expect = (_decimal.Decimal(usd.original_amount) / _decimal.Decimal(str(rates["USD"]))).quantize(
        _decimal.Decimal("0.01"), rounding=_decimal.ROUND_HALF_UP
    )
    assert abs(usd.amount_eur - expect) <= _decimal.Decimal("0.01")
