"""Extras outside the label path: the parquet catalog, and the checks that
registry keys, oracles and ``osmgraft`` imports agree across the repo."""

from __future__ import annotations

import pyspark.sql.functions as F


# --- catalog (parquet fallback of the Iceberg-or-parquet table layer) ------------


def test_catalog_roundtrip(spark, tmp_path):
    from osmgraft.sources.catalog import Catalog

    cat = Catalog(spark, warehouse=str(tmp_path / "wh"))
    assert cat.iceberg is None  # no iceberg jar in this environment
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    cat.save(df, "t1", partition_by=["k"])
    assert cat.exists("t1")
    back = cat.load("t1")
    assert back.count() == 100
    assert set(back.columns) == {"id", "k"}


def test_tag_keys_stats_column(spark, synth_small):
    from osmgraft.sources.catalog import with_tag_keys_stats

    docs, _, _ = synth_small
    out = with_tag_keys_stats(docs)
    row = out.where(F.col("doc_id").startswith("node/")).select("tag_keys", "spans").first()
    span_keys = {s["text"].split("=", 1)[0] for s in row["spans"] if s["kind"] == "tag"}
    assert set(row["tag_keys"]) == span_keys


def test_registry_and_oracles_share_keys():
    """Every registry query has an oracle and every oracle a query: the
    oracle checker iterates queries() only, so an oracle orphaned by a
    deleted query would otherwise go unnoticed. The bench rows and the plan
    audit name registry keys as string literals (``_entry("…")``,
    ``queries()["…"]``), which no import check sees, so each such literal
    must also be a key. Parses those files with ``ast``; Spark-free."""
    import ast
    import os
    import sys

    repo = os.path.join(os.path.dirname(__file__), "..")
    sys.path.insert(0, repo)
    from __spark_entry__ import oracle_sql, queries

    keys = set(queries())
    assert keys == set(oracle_sql())

    def is_queries_call(node) -> bool:
        f = getattr(node, "func", None)
        return isinstance(node, ast.Call) and (
            isinstance(f, ast.Name) and f.id == "queries"
            or isinstance(f, ast.Attribute) and f.attr == "queries"
        )

    named = []
    for rel in ("bench.py", "tools/explain_audit.py"):
        with open(os.path.join(repo, rel)) as f:
            tree = ast.parse(f.read(), filename=rel)
        for node in ast.walk(tree):
            if isinstance(node, ast.Subscript) and is_queries_call(node.value):
                lit = node.slice
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "_entry"
                and node.args
            ):
                lit = node.args[0]
            else:
                continue
            if isinstance(lit, ast.Constant) and isinstance(lit.value, str):
                named.append((rel, lit.value))
    assert {rel for rel, _ in named} == {"bench.py", "tools/explain_audit.py"}
    assert [(rel, k) for rel, k in named if k not in keys] == []


def test_osmgraft_imports_resolve():
    """Every ``from osmgraft.… import name`` in the repo's Python files
    resolves. Registry queries, bench rows, tools and many tests import
    lazily inside functions that tier-1 never runs, so a deleted module or
    function would otherwise leave a dangling import behind unnoticed.
    Parses the files with ``ast`` and imports only osmgraft modules; no
    SparkSession is started."""
    import ast
    import glob
    import importlib.util
    import os
    import sys

    repo = os.path.join(os.path.dirname(__file__), "..")
    sys.path.insert(0, repo)
    files = [os.path.join(repo, f) for f in ("__spark_entry__.py", "bench.py")]
    for pattern in ("tools/*.py", "perfbench/*.py", "osmgraft/**/*.py", "tests/*.py"):
        files += glob.glob(os.path.join(repo, pattern), recursive=True)

    def resolves(module: str, name: str | None) -> bool:
        try:
            mod = importlib.import_module(module)
        except ModuleNotFoundError:
            return False
        if name is None or name == "*" or hasattr(mod, name):
            return True
        return importlib.util.find_spec(f"{module}.{name}") is not None

    checked, dangling = 0, []
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                targets = [(node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                targets = [(a.name, None) for a in node.names]
            else:
                continue
            for module, name in targets:
                if module != "osmgraft" and not module.startswith("osmgraft."):
                    continue
                checked += 1
                if not resolves(module, name):
                    where = os.path.relpath(path, repo)
                    dangling.append(f"{where}:{node.lineno} {module} {name or ''}".rstrip())
    assert checked > 100, checked
    assert not dangling, dangling
