"""bench.py and __spark_entry__ must stay in sync: every benched query
name resolves in the registry (a rename/merge in queries() without a
bench.py update crashed the round-5 preview run), and every registry
entry keeps its oracle twin with matching keys, and no query function
outlives its registration."""

import ast
import inspect

import bench
import __spark_entry__ as entry


def test_bench_queries_are_registered():
    q = set(entry.queries())
    missing = [n for n in bench.BENCH_QUERIES if n not in q]
    assert not missing, f"BENCH_QUERIES not in queries(): {missing}"


# Queries DELIBERATELY registered without a SQL twin (the driver
# records a rows-only check for these). Every entry here must say why
# no ANSI-SQL oracle can exist — anything else is a missing oracle.
ROWS_ONLY = {
    # sequential agglomerative merge order is not SQL-expressible; the
    # kernel is pinned by tests against an independent naive-recompute
    # reference on all three linkages, and hac_single (same blocking +
    # kernel, single linkage) carries a HARD recursive-CC oracle
    "hac_complete",
}


def test_registry_and_oracles_have_identical_keys():
    q, o = entry.queries(), entry.oracle_sql()
    assert set(q) - ROWS_ONLY == set(o), {
        "queries_without_oracle": sorted(set(q) - ROWS_ONLY - set(o)),
        "orphan_oracles": sorted(set(o) - set(q)),
    }
    assert ROWS_ONLY <= set(q)
    assert not (ROWS_ONLY & set(o))


def test_every_query_function_is_reachable_from_the_registry():
    """Every top-level q_* function is registered in queries() or called
    (through any chain of module functions) by a registered one — an
    unregistered query is dead code with no oracle run."""
    tree = ast.parse(inspect.getsource(entry))
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

    def called(name):
        return {
            n.id for n in ast.walk(funcs[name])
            if isinstance(n, ast.Name) and n.id in funcs
        }

    live, todo = set(), list(called("queries"))
    while todo:
        name = todo.pop()
        if name not in live:
            live.add(name)
            todo.extend(called(name))
    dead = sorted(n for n in funcs if n.startswith("q_") and n not in live)
    assert not dead, f"unregistered, uncalled query functions: {dead}"
