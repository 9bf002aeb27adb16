"""Driver-side state lives in one namespace per SparkContext
(``plans.cache.context_state``): the read-plan memo, both footer-bound
memos, the UDF and broadcast memos, the internal-cache registry, the
dropped-pairs and pagerank records and the checkpoint warning.

A SparkContext's state must never be served under another context: a
UDF object bound to a stopped context fails its accumulator updates in
the next session, and a plan of a stopped session cannot run. Fake
context objects stand in for a second SparkContext, so no test here
starts another session."""

from __future__ import annotations

import ast
import logging
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import datar_polars_spark
from datar_polars_spark import f, group_by, mutate, read_parquet
from datar_polars_spark.functions import mean
from datar_polars_spark.functions.special import _math_udf
from datar_polars_spark.plans.cache import (
    Memo,
    context_memo,
    context_state,
    internal_cache_count,
    register_internal_cache,
    release_internal_caches,
    reliable_checkpoint,
)
from datar_polars_spark.scale.dedup import (
    _register_dropped_pairs,
    _sig_min_udf,
    dropped_pairs_estimate,
)
from datar_polars_spark.scale.graph import pagerank_last_run

# every name the package records in a context's namespace
STATE_NAMES = (
    "read_parquet", "plan_bound", "footer_bound", "minhash_sig_udf",
    "math_udf", "lang_id_broadcast", "internal_caches", "dropped_pairs",
    "pagerank_last", "checkpoint_warned",
)


class _FakeContext:
    """A SparkContext with a checkpoint dir and uncleaned checkpoints."""

    def getCheckpointDir(self):
        return "file:/ckpt"

    def getConf(self):
        return {}


class _FakeFrame:
    def __init__(self, sc):
        self.sparkSession = type("S", (), {"sparkContext": sc})()

    def checkpoint(self, eager):
        return "checkpoint"


def test_memo_is_bounded_fifo():
    evicted = []
    m = Memo(2, on_evict=evicted.append)
    assert m.put("a", 1) == 1
    m.put("b", 2)
    m.put("a", 10)  # a stored key is replaced in place, nothing evicted
    assert evicted == [] and list(m) == ["a", "b"]
    m.put("c", 3)
    assert evicted == [10] and list(m) == ["b", "c"]


def test_state_of_one_context_is_absent_under_another():
    a, b = _FakeContext(), _FakeContext()
    for name in STATE_NAMES:
        context_state(a)[name] = name
    assert context_memo("read_parquet", 4, a) == "read_parquet"
    assert context_state(b) == {}
    # a's namespace was dropped once b became current
    assert context_state(a) == {}
    memo = context_memo("read_parquet", 4, a)
    assert isinstance(memo, Memo) and memo.size == 4
    assert context_memo("read_parquet", 4, a) is memo


def test_checkpoint_warning_is_per_context(caplog):
    caplog.set_level(logging.WARNING, logger="datar_polars_spark.plans.cache")

    def warnings():
        return [r for r in caplog.records if "cleanCheckpoints" in r.getMessage()]

    a, b = _FakeContext(), _FakeContext()
    reliable_checkpoint(_FakeFrame(a))
    reliable_checkpoint(_FakeFrame(a))
    assert len(warnings()) == 1
    reliable_checkpoint(_FakeFrame(b))
    assert len(warnings()) == 2
    # b replaced a's namespace, so a is a new context again
    reliable_checkpoint(_FakeFrame(a))
    assert len(warnings()) == 3


def test_consumers_record_under_the_active_context_only(spark, tmp_path):
    """Each consumer records under the session's own context; once
    another context is current, none of it is served back."""
    from pyspark.sql import functions as F

    release_internal_caches()
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2, 2], pa.int64()),
                             "x": [1.0, 2.0, 3.0]}), p)
    td = read_parquet(spark, p)
    td >> group_by(f.k) >> mutate(m=mean(f.x))
    sig_udf = _sig_min_udf(8)
    gamma_udf = _math_udf("gamma")
    register_internal_cache(spark.range(1))
    _register_dropped_pairs("probe", spark.range(1).select(
        F.lit(1.0).alias("dropped")))
    # the record pagerank() leaves (tests/test_pagerank.py runs it)
    context_state()["pagerank_last"] = {"iterations": 0, "delta": None}

    state = context_state(spark.sparkContext)
    assert set(STATE_NAMES) - {"lang_id_broadcast", "checkpoint_warned"} \
        <= set(state)
    assert _sig_min_udf(8) is sig_udf and _math_udf("gamma") is gamma_udf
    assert internal_cache_count() == 1
    assert pagerank_last_run() == {"iterations": 0, "delta": None}

    assert context_state(_FakeContext()) == {}
    # back under the session's context: everything starts afresh
    assert internal_cache_count() == 0
    assert dropped_pairs_estimate("probe") == 0.0
    assert pagerank_last_run() == {}
    assert _sig_min_udf(8) is not sig_udf
    assert _math_udf("gamma") is not gamma_udf
    assert not read_parquet(spark, p).df._jdf.equals(td.df._jdf)
    assert "plan_bound" not in context_state()


# module-level names a function may mutate or rebind: the per-context
# holder, the import-time verb table, per-worker kernel memos (bounded,
# hold no driver or context object) and pure constant tables
ALLOWED = {
    "plans/cache.py": {"_HELD"},
    "functions/registry.py": {"REGISTRY"},
    "scale/embed.py": {"_ROW_MEMO"},
    "scale/codecs.py": {"_JPEG_LUT_MEMO"},
    "scale/langid.py": {"_CRC_TAB"},
    "scale/psl_data.py": {"_SNAPSHOT_RULES"},
}
MUTATORS = {
    "append", "extend", "insert", "pop", "popitem", "clear", "update",
    "setdefault", "add", "discard", "remove", "move_to_end",
}


def _bound(fn) -> set:
    """Names a function binds itself; imports do not count, since an
    imported name is another module's global."""
    a = fn.args
    out = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs
           + [a.vararg, a.kwarg] if x is not None}
    for n in _own_nodes(fn):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                            ast.ClassDef)):
            out.add(n.name)
        elif isinstance(n, ast.ExceptHandler) and n.name:
            out.add(n.name)
    return out


def _own_nodes(fn):
    """Nodes of ``fn``'s body, not descending into nested scopes."""
    stack = list(fn.body)
    while stack:
        n = stack.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef, ast.Lambda)):
            stack.extend(ast.iter_child_nodes(n))


def _module_mutations(tree):
    """(function, name, line) for every mutation or ``global`` rebind
    of a name no enclosing function binds."""
    modules = {
        (al.asname or al.name).split(".")[0]
        for n in ast.walk(tree) if isinstance(n, ast.Import)
        for al in n.names
    }

    def visit(node, local):
        for fn in ast.iter_child_nodes(node):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(fn, local)
                continue
            inner = local | _bound(fn)
            for n in _own_nodes(fn):
                if isinstance(n, ast.Global):
                    for name in n.names:
                        yield fn.name, name, n.lineno
                targets = []
                if isinstance(n, (ast.Assign, ast.Delete)):
                    targets = n.targets
                elif isinstance(n, (ast.AugAssign, ast.AnnAssign)):
                    targets = [n.target]
                elif (isinstance(n, ast.Call)
                      and isinstance(n.func, ast.Attribute)
                      and n.func.attr in MUTATORS):
                    targets = [n.func]
                for t in targets:
                    if (isinstance(t, (ast.Subscript, ast.Attribute))
                            and isinstance(t.value, ast.Name)
                            and t.value.id not in inner
                            and t.value.id not in modules):
                        yield fn.name, t.value.id, n.lineno
            yield from visit(fn, inner)

    yield from visit(tree, set())


def test_no_module_global_state_outside_the_registry():
    root = Path(datar_polars_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for fn, name, line in _module_mutations(ast.parse(path.read_text())):
            if name not in ALLOWED.get(rel, ()):
                found.append(f"{rel}:{line} {fn}() mutates {name}")
    assert found == []


def test_guard_sees_imported_globals():
    src = (
        "from .dedup import _RECORDS\n"
        "import numpy as np\n"
        "_MEMO = {}\n"
        "def op(x):\n"
        "    _RECORDS['op'] = []\n"
        "    local = {}\n"
        "    local['k'] = 1\n"
        "    np.add(x, x)\n"
        "    def inner():\n"
        "        local.update(a=1)\n"
        "        _MEMO.setdefault('k', 1)\n"
        "def rebind():\n"
        "    global _MEMO\n"
    )
    got = sorted(name for _fn, name, _l in _module_mutations(ast.parse(src)))
    assert got == ["_MEMO", "_MEMO", "_RECORDS"]
