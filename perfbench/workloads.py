"""The benchmark's workloads: what one pass runs and how outputs are checked.

Each operation is a timed call into a public entry point of the engine,
split into labelled phases (see ``Tracer``). Expected outputs come from
the DuckDB oracles the repository already pairs with every face, computed
once per input and cached under the run's cache directory.

Engine modules are imported inside functions: the runner must be able to
start (and fail cleanly) before the engine is importable, and the setup
timer must see the engine's import cost.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import shutil
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from eventlog import DESC_PROP, PASS_PROP

# How many generated IMDB inputs to keep in the cache, newest first.
IMDB_CACHE_KEEP = 6


@dataclass
class Span:
    pass_id: str
    op: str
    phase: str
    self_s: float  # wall time minus the time of nested spans


class Tracer:
    """Labels every Spark job with ``<op>|<phase>`` and the pass id, and
    records the wall time of each phase. Nested phases are subtracted
    from their parent, so spans hold self time."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.pass_id = ""
        self._child_s: list[float] = []

    def start_pass(self, pass_id: str) -> None:
        self.pass_id = pass_id
        self.sc.setLocalProperty(PASS_PROP, pass_id)

    @contextmanager
    def phase(self, op: str, phase: str) -> Iterator[None]:
        prev = self.sc.getLocalProperty(DESC_PROP)
        self.sc.setJobDescription(f"{op}|{phase}")
        self._child_s.append(0.0)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            child = self._child_s.pop()
            if self._child_s:
                self._child_s[-1] += wall
            self.spans.append(Span(self.pass_id, op, phase, wall - child))
            self.sc.setJobDescription(prev)


@dataclass(frozen=True)
class Expected:
    cols: tuple[str, ...]
    rows: int
    hash: str

    def to_json(self) -> dict:
        return {"cols": list(self.cols), "rows": self.rows, "hash": self.hash}


def canon(cols, rows) -> Expected:
    from _imdb_etl_spark.testing import canon_rows

    rows = [tuple(r) for r in rows]
    return Expected(tuple(sorted(cols)), len(rows), canon_rows(list(cols), rows)[1])


def mismatch(got: Expected, want: dict) -> str | None:
    """Why ``got`` differs from a cached expectation, or None."""
    if list(got.cols) != want["cols"]:
        return f"columns {list(got.cols)} != {want['cols']}"
    if got.rows != want["rows"]:
        return f"{got.rows} rows != {want['rows']}"
    if got.hash != want["hash"]:
        return f"value hash {got.hash} != {want['hash']}"
    return None


def _write_json_atomic(path: str, obj) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


@dataclass
class OpResult:
    pass_id: str
    op: str
    seconds: float
    error: str | None


@dataclass
class Workload:
    """One pass runs the operations (in a seeded order, or the listed
    order when ``rng`` is None) and returns one ``OpResult`` per
    operation; ``verify`` checks the outputs that a pass does not check
    itself."""

    name: str
    nominal_pass_s: float  # warm pass on the reference host; sets the pass count
    prepare: Callable  # (ctx) -> inputs, untimed
    run_pass: Callable  # (spark, tracer, inputs, rng or None) -> list[OpResult]
    verify: Callable  # (spark, tracer, inputs) -> list[(op, error|None)]
    facts: dict = field(default_factory=dict)


def _timed_op(tracer: Tracer, op: str, body: Callable[[], None]) -> OpResult:
    t0 = time.perf_counter()
    try:
        body()
        error = None
    except Exception as e:  # noqa: BLE001 — a failing operation is counted, not fatal
        error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
    return OpResult(tracer.pass_id, op, time.perf_counter() - t0, error)


# --------------------------------------------------------------------------
# registry: analytics and LLM-pipeline faces over the sf0.1 parquet tables
# --------------------------------------------------------------------------

REGISTRY_SF = "sf0.1"

# Chosen to cover every layer in a pass short enough for the run budget
# (README.md lists what was left out): a broadcast-gated join (q19), a
# pure lineitem scan (q6), a join + top-k dashboard query (graf3), a
# driver loop with many build-time jobs (BPE), a mapInPandas/Arrow face
# (IVF) and a narrow per-document transform (text_stats).
REGISTRY_FACES = (
    "tpch_q19_discounted_revenue",
    "tpch_q6_forecast_revenue",
    "graf3_top10_customers",
    "tokenizer_bpe_train_batched",
    "dedup_embedding_cosine_ivf",
    "text_stats",
)


def testdata_dir(sf: str) -> str:
    """The shared parquet test tables at scale ``sf``: a sibling of the
    smoke directory the entry-point module declares."""
    import __spark_entry__

    return os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), sf)


def _fingerprint(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        h.update(name.encode())
        with open(os.path.join(sf_dir, name), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()[:16]


def _registry_prepare(ctx) -> dict:
    sf_dir = testdata_dir(REGISTRY_SF)
    if not os.path.isdir(sf_dir):
        raise FileNotFoundError(f"registry input tables not found: {sf_dir}")
    path = os.path.join(ctx.cache_dir, f"registry-{_fingerprint(sf_dir)}.json")
    expected = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            expected = json.load(f)
    missing = [n for n in REGISTRY_FACES if n not in expected]
    if missing:
        expected.update(_duckdb_expected(sf_dir, missing))
        _write_json_atomic(path, expected)
    return {"sf_dir": sf_dir, "expected": expected}


def _duckdb_expected(sf_dir: str, names: list[str]) -> dict:
    import duckdb

    from _imdb_etl_spark.plans import REGISTRY
    from _imdb_etl_spark.sources.catalog import DRIVER_TABLES

    con = duckdb.connect()
    try:
        for t in DRIVER_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{path}')")
        out = {}
        for n in names:
            rel = con.sql(REGISTRY[n].oracle)
            out[n] = canon([d[0] for d in rel.description], rel.fetchall()).to_json()
        return out
    finally:
        con.close()


def _registry_pass(spark, tracer: Tracer, inputs: dict, rng: random.Random | None):
    from _imdb_etl_spark.plans import REGISTRY

    order = list(REGISTRY_FACES)
    if rng is not None:
        rng.shuffle(order)
    results = []
    for name in order:

        def body(name=name):
            with tracer.phase(name, "build"):
                df = REGISTRY[name].spark(spark, inputs["sf_dir"])
            with tracer.phase(name, "plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.phase(name, "exec"):
                df.write.format("noop").mode("overwrite").save()

        results.append(_timed_op(tracer, name, body))
    return results


def _registry_verify(spark, tracer: Tracer, inputs: dict):
    from _imdb_etl_spark.plans import REGISTRY

    out = []
    for name in REGISTRY_FACES:
        try:
            with tracer.phase(name, "verify"):
                df = REGISTRY[name].spark(spark, inputs["sf_dir"])
                got = canon(df.columns, df.collect())
            out.append((name, mismatch(got, inputs["expected"][name])))
        except Exception as e:  # noqa: BLE001
            out.append((name, f"{type(e).__name__}: {str(e)[:300]}"))
    return out


# --------------------------------------------------------------------------
# imdb_etl: the paper's CSV -> star-schema ETL and its six dashboard queries
# --------------------------------------------------------------------------

IMDB_ROWS = 15_000
CTAS_TABLES = ("dim_movies", "dim_genres", "dim_people", "fact_movies")
# graf name -> (function in etl.grafs, tables it reads)
GRAFS = {
    "graf1": ("graf1_usa_india_2019", ("dim_movies",)),
    "graf2": ("graf2_avg_duration_by_genre", ("dim_genres", "fact_movies")),
    "graf3": ("graf3_top10_directors", ("fact_movies", "dim_people")),
    "graf4": (
        "graf4_top3_directors_top3_genres",
        ("fact_movies", "dim_people", "dim_genres", "ratings_staging"),
    ),
    "graf5": ("graf5_top10_actors_by_roles", ("role_mapping_staging", "dim_people")),
    "graf6": ("graf6_movies_by_country", ("dim_movies",)),
}


def _imdb_prepare(ctx) -> dict:
    """Generate the six IMDB CSVs for (rows, seed) and their oracle
    results, once; later runs with the same seed reuse them."""
    stage = os.path.join(ctx.cache_dir, f"imdb-n{IMDB_ROWS}-s{ctx.seed}")
    done = os.path.join(stage, "expected.json")
    if not os.path.exists(done):
        from tests import fixtures, oracle_imdb

        tmp = f"{stage}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        fixtures.generate(tmp, n=IMDB_ROWS, seed=ctx.seed)
        con = oracle_imdb.build(tmp)
        try:
            expected = {}
            queries = {t: f"SELECT * FROM {t}" for t in CTAS_TABLES}
            queries.update(oracle_imdb.GRAF_SQL)
            for name, sql in queries.items():
                rel = con.sql(sql)
                expected[name] = canon([d[0] for d in rel.description], rel.fetchall()).to_json()
        finally:
            con.close()
        _write_json_atomic(os.path.join(tmp, "expected.json"), expected)
        shutil.rmtree(stage, ignore_errors=True)
        os.replace(tmp, stage)
        _prune(ctx.cache_dir, "imdb-", IMDB_CACHE_KEEP)
    with open(done, encoding="utf-8") as f:
        expected = json.load(f)
    return {"stage": stage, "expected": expected}


def _prune(cache_dir: str, prefix: str, keep: int) -> None:
    entries = [
        os.path.join(cache_dir, e)
        for e in os.listdir(cache_dir)
        if e.startswith(prefix) and not e.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)


@contextmanager
def _spanned(tracer: Tracer, module, attr: str, op: str, phase: str):
    """Wrap ``module.attr`` in a tracer phase for the duration of the block."""
    fn = getattr(module, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.phase(op, phase):
            return fn(*args, **kwargs)

    setattr(module, attr, wrapper)
    try:
        yield
    finally:
        setattr(module, attr, fn)


def _imdb_pass(spark, tracer: Tracer, inputs: dict, rng: random.Random | None):
    from _imdb_etl_spark.etl import grafs, star
    from _imdb_etl_spark.sources import sinks

    tables: dict = {}

    def materialize():
        with (
            _spanned(tracer, star, "load_staging", "etl", "load"),
            _spanned(tracer, sinks, "save_as_table", "etl", "ctas"),
            tracer.phase("etl", "build"),
        ):
            tables.update(star.materialize_pipeline(spark, inputs["stage"]))

    results = [_timed_op(tracer, "etl", materialize)]
    order = list(GRAFS)
    if rng is not None:
        rng.shuffle(order)
    for name in order:
        fn_name, args = GRAFS[name]
        collected: list = []

        def body(name=name, fn_name=fn_name, args=args, collected=collected):
            with tracer.phase(name, "build"):
                df = getattr(grafs, fn_name)(*(tables[a] for a in args))
            with tracer.phase(name, "plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.phase(name, "grafs"):
                collected.append((df.columns, df.collect()))

        r = _timed_op(tracer, name, body)
        if r.error is None:
            r.error = mismatch(canon(*collected[0]), inputs["expected"][name])
        results.append(r)
    with tracer.phase("etl", "drop"):
        star.drop_staging(spark)
    return results


def _imdb_verify(spark, tracer: Tracer, inputs: dict):
    out = []
    for name in CTAS_TABLES:
        try:
            with tracer.phase(name, "verify"):
                df = spark.table(name)
                got = canon(df.columns, df.collect())
            out.append((name, mismatch(got, inputs["expected"][name])))
        except Exception as e:  # noqa: BLE001
            out.append((name, f"{type(e).__name__}: {str(e)[:300]}"))
    return out


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="registry",
            nominal_pass_s=4.6,
            prepare=_registry_prepare,
            run_pass=_registry_pass,
            verify=_registry_verify,
            facts={"sf": REGISTRY_SF, "faces": list(REGISTRY_FACES)},
        ),
        Workload(
            name="imdb_etl",
            nominal_pass_s=7.0,
            prepare=_imdb_prepare,
            run_pass=_imdb_pass,
            verify=_imdb_verify,
            facts={"imdb_rows": IMDB_ROWS, "ctas": list(CTAS_TABLES), "grafs": list(GRAFS)},
        ),
    )
}
