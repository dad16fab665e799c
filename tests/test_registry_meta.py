"""Registry-level invariants: every entry must be well-formed before any
engine comparison runs — unique names, callable builders, oracle SQL that
DuckDB can at least PLAN against the real tables (catches alias typos and
dialect slips without paying a Spark run)."""

import json
import os

import duckdb
import pytest

from shared_etl_pipelines_spark.queries import REGISTRY, QueryDef

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def test_registry_entries_are_wellformed():
    assert len(REGISTRY) >= 120
    for name, qd in REGISTRY.items():
        assert name == name.strip().lower().replace(" ", "_"), name
        assert callable(qd.fn), name
        assert qd.doc, f"{name} has no doc"
        assert qd.sql is None or qd.sql.strip(), name


def test_all_oracle_sql_plans_in_duckdb(duck):
    bad = []
    for name, qd in REGISTRY.items():
        if qd.sql is None:
            continue
        try:
            duck.sql(f"EXPLAIN {qd.sql}")
        except Exception as e:
            bad.append((name, str(e).splitlines()[0]))
    assert not bad, bad


def test_no_gate_hostile_output_types(spark, sf_dir):
    """The external gate's canonicalizer hashes every output cell: array/
    map/struct columns crash it (CORRECTNESS_r02 embedding_pca_project:
    'unhashable type: list'), and raw timestamps hash differently across
    session timezones. Audit EVERY registry entry's analyzed schema —
    batch queries must emit only scalar, non-timestamp columns. Streaming
    queries are exempt (never gate-judged) but still scanned for arrays."""
    from pyspark.sql import types as T

    bad = []
    for name, qd in REGISTRY.items():
        if "streaming" in qd.tags:
            continue
        try:
            schema = qd.fn(spark, sf_dir).schema
        except Exception as e:  # analysis failure is its own red flag
            bad.append((name, f"does not analyze: {e}"))
            continue
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                bad.append((name, f"{f.name} is {f.dataType.simpleString()}"))
            if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
                bad.append((name, f"{f.name} is a raw timestamp"))
    assert not bad, bad


def test_rows_only_queries_are_justified():
    """Every oracle-less entry must say why in its doc/tags — the driver
    records a weaker check for them, so they need an explicit rationale."""
    justified_tags = {"streaming", "approx", "sketch", "scale-path", "clustering",
                      "pca", "iterative", "source"}
    for name, qd in REGISTRY.items():
        if qd.sql is not None:
            continue
        assert justified_tags & set(qd.tags), f"{name} rows-only without rationale tag"


# ---------------------------------------------------------------------------
# Gate order (shared_etl_pipelines_spark/fingerprint.py): derived from the
# verdict records and the pinned transitive fingerprints. The ledger cases
# run on throwaway modules mounted under the package and on temporary
# verdict and pin files; the reach cases on the real registry.
# ---------------------------------------------------------------------------
HELPERS = """
SCALE = 2


def via_local(x):
    return x + 1


def via_attr(x):
    return x + 2


class Shape:
    def area(self):
        return 3


def via_const(x):
    return x * SCALE
"""

BUILDERS = """
from shared_etl_pipelines_spark import {helpers} as H
from shared_etl_pipelines_spark.{helpers} import Shape, via_const


def b_plain(spark, sf_dir):
    return 0


def b_local(spark, sf_dir):
    from shared_etl_pipelines_spark.{helpers} import via_local

    return via_local(1)


def b_attr(spark, sf_dir):
    return H.via_attr(1)


def b_class(spark, sf_dir):
    return Shape().area()


def b_const(spark, sf_dir):
    return via_const(1)
"""
BUILDER_KEYS = ("plain", "local", "attr", "class", "const")


def _gen_tool():
    import importlib.util

    path = os.path.join(os.path.dirname(__file__), "..", "tools", "gen_fingerprints.py")
    spec = importlib.util.spec_from_file_location("gen_fingerprints", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Ledger:
    def __init__(self, tmp_path, monkeypatch):
        import importlib
        import uuid

        import shared_etl_pipelines_spark as pkg

        tag = uuid.uuid4().hex[:8]
        src = tmp_path / "src"
        src.mkdir()
        self.helpers = src / f"_ledger_{tag}_helpers.py"
        self.builders = src / f"_ledger_{tag}_builders.py"
        self.helpers.write_text(HELPERS)
        self.builders.write_text(BUILDERS.format(helpers=self.helpers.stem))
        monkeypatch.setattr(pkg, "__path__", [*pkg.__path__, str(src)])
        importlib.invalidate_caches()
        mod = importlib.import_module(f"{pkg.__name__}.{self.builders.stem}")
        self.fns = {k: getattr(mod, f"b_{k}") for k in BUILDER_KEYS}
        self.root = tmp_path / "root"
        (self.root / "tools").mkdir(parents=True)
        self.tool = _gen_tool()

    def registry(self, **builders):
        """name -> builder key; a name starting "noorc" gets no oracle SQL."""
        return {
            name: QueryDef(fn=self.fns[key], sql=None if name.startswith("noorc") else "SELECT 1")
            for name, key in builders.items()
        }

    def judge(self, rnd, **ok):
        path = self.root / f"CORRECTNESS_r{rnd:02d}.json"
        verdict = {"rows_match": True, "schema_match": True, "spark_rows": 1, "oracle_rows": 1}
        path.write_text(json.dumps(
            {n: {**verdict, "hash_match": good, "err": None} for n, good in ok.items()}
        ))
        return str(path)

    def pin(self, verdict_path, registry):
        return self.tool.pin(verdict_path, registry, root=str(self.root))

    def order(self, registry):
        from shared_etl_pipelines_spark.fingerprint import gate_order

        return gate_order(registry, root=str(self.root))

    @staticmethod
    def edit(path, old, new):
        text = path.read_text()
        assert old in text
        path.write_text(text.replace(old, new))


@pytest.fixture
def ledger(tmp_path, monkeypatch):
    import sys

    led = _Ledger(tmp_path, monkeypatch)
    yield led
    for path in (led.helpers, led.builders):
        sys.modules.pop(f"shared_etl_pipelines_spark.{path.stem}", None)


def test_gate_order_fresh_then_builder_edit_refronts(ledger):
    reg = ledger.registry(**{k: k for k in BUILDER_KEYS})
    ledger.pin(ledger.judge(3, **{k: True for k in reg}), reg)
    assert ledger.order(reg) == list(BUILDER_KEYS)  # all fresh: definition order
    ledger.edit(ledger.builders, "return Shape().area()", "return Shape().area() + 1")
    assert ledger.order(reg) == ["class", "plain", "local", "attr", "const"]


@pytest.mark.parametrize(
    "old, new, stale",
    [
        ("return x + 1", "return x + 11", "local"),  # through a function-local import
        ("return x + 2", "return x + 12", "attr"),  # through module.attr
        ("return 3", "return 13", "class"),  # through a reached class's method
        ("SCALE = 2", "SCALE = 5", "const"),  # through a referenced module constant
    ],
)
def test_helper_edit_in_another_module_refronts_only_its_reacher(ledger, old, new, stale):
    reg = ledger.registry(**{k: k for k in BUILDER_KEYS})
    ledger.pin(ledger.judge(3, **{k: True for k in reg}), reg)
    ledger.edit(ledger.helpers, old, new)
    assert ledger.order(reg) == [stale] + [k for k in BUILDER_KEYS if k != stale]


def test_gate_order_verdict_cases(ledger):
    from shared_etl_pipelines_spark.fingerprint import Fingerprinter

    reg = ledger.registry(
        fresh="plain", edited="local", red="attr", redpin="attr", never="class",
        oldpin="const", noorc="plain",
    )
    ledger.judge(1, edited=True)
    ledger.judge(2, red=True, oldpin=True)
    # round 3: red turns red after its older green; redpin is red at the
    # round of its pin; oldpin passes again but keeps its round-2 pin; the
    # no-oracle query counts as judged green
    ledger.judge(3, fresh=True, red=False, redpin=False, oldpin=True, noorc=True)
    walker = Fingerprinter()
    rounds = {"fresh": 3, "edited": 1, "red": 2, "redpin": 3, "oldpin": 2, "noorc": 3}
    pins = {n: {"round": r, "sha256": walker.fingerprint(reg[n])} for n, r in rounds.items()}
    ledger.tool.write_pins(pins, root=str(ledger.root))
    ledger.edit(ledger.builders, "return via_local(1)", "return via_local(2)")
    # not fresh first, oldest passing round first (red and never count as
    # round 0, ties in definition order); then fresh; no-oracle last
    assert ledger.order(reg) == ["red", "redpin", "never", "edited", "oldpin", "fresh", "noorc"]


def test_pin_tool_pins_greens_drops_reds_and_refuses_old_rounds(ledger):
    reg = ledger.registry(a="plain", b="local", c="attr")
    r4 = ledger.judge(4, a=True, b=True, c=True)
    pins = ledger.pin(r4, reg)
    assert {n: p["round"] for n, p in pins.items()} == {"a": 4, "b": 4, "c": 4}
    r5 = ledger.judge(5, b=False, c=True, unknown=True)
    pins = ledger.pin(r5, reg)
    assert {n: p["round"] for n, p in pins.items()} == {"a": 4, "c": 5}
    for path in (r5, r4):  # re-running an old file must not bless later edits
        with pytest.raises(SystemExit):
            ledger.pin(path, reg)
    assert ledger.order(reg) == ["b", "a", "c"]


def test_known_reaches_on_the_real_registry():
    from shared_etl_pipelines_spark.fingerprint import Fingerprinter
    from shared_etl_pipelines_spark.plans import registry as plugins

    walker = Fingerprinter()

    def reach(name):
        return walker.reach(REGISTRY[name].fn)

    assert "shared_etl_pipelines_spark.operators.aggregates:ranked_quantiles" in reach(
        "zonal_stats_disc"
    )
    assert "shared_etl_pipelines_spark.operators.geo:first_hit" in reach("geo_clip_polygon")
    yaml_reach = reach("pipeline_crop_weighted_yaml")
    assert "shared_etl_pipelines_spark.plans.registry:Registry" in yaml_reach
    builtins = [
        f"{fn.__module__}:{fn.__name__}" for fn in plugins._BUILTINS.values()
        if fn.__module__.startswith("shared_etl_pipelines_spark.")  # not a test's own plugin
    ]
    assert builtins
    assert all(name in yaml_reach for name in builtins)


def test_every_pin_names_a_registry_query_judged_green_at_its_round():
    from shared_etl_pipelines_spark.fingerprint import ROOT, load_pins, passed

    pins = load_pins()
    assert pins
    assert not set(pins) - set(REGISTRY)
    judged = {}
    for rnd in {p["round"] for p in pins.values()}:
        with open(os.path.join(ROOT, f"CORRECTNESS_r{rnd:02d}.json")) as fh:
            judged[rnd] = json.load(fh)
    assert all(passed(judged[p["round"]][n]) for n, p in pins.items())


def test_gate_order_covers_the_real_registry():
    from shared_etl_pipelines_spark.fingerprint import gate_order

    order = gate_order(REGISTRY)
    assert sorted(order) == sorted(REGISTRY)


def test_importing_queries_reads_no_ledger():
    """query_mix's setup_s times this import: the gate order must cost
    nothing until the gate asks for it."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        "opened = []\n"
        "sys.addaudithook(lambda ev, a: opened.append(str(a[0])) if ev == 'open' else None)\n"
        "import shared_etl_pipelines_spark.queries\n"
        "print('shared_etl_pipelines_spark.fingerprint' in sys.modules)\n"
        "print('\\n'.join(opened))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True
    ).stdout.splitlines()
    assert out[0] == "False"
    assert any(p.endswith("queries_llm.py") for p in out[1:])  # the hook saw the import
    read = [p for p in out[1:] if "CORRECTNESS_r" in p or p.endswith("query_fingerprints.json")]
    assert not read, read


def test_gate_order_walks_the_package_once_per_process(monkeypatch):
    """The gate asks for queries() and then oracle_sql(); both share one
    walk over the package source."""
    import __spark_entry__ as entry
    from shared_etl_pipelines_spark import fingerprint

    walks = []
    init = fingerprint.Fingerprinter.__init__

    def counting_init(self):
        walks.append(self)
        init(self)

    monkeypatch.setattr(fingerprint.Fingerprinter, "__init__", counting_init)
    entry._gate_order.cache_clear()
    try:
        names = list(entry.queries())
        oracles = list(entry.oracle_sql())
    finally:
        entry._gate_order.cache_clear()
    assert len(walks) == 1
    assert sorted(names) == sorted(REGISTRY)
    assert oracles == [n for n in names if REGISTRY[n].sql is not None]
