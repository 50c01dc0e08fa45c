"""bench.py and __spark_entry__ must stay in sync: every benched query
name resolves in the registry (a rename/merge in queries() without a
bench.py update crashed the round-5 preview run), and every registry
entry keeps its oracle twin with matching keys, and no query function
outlives its registration. The package carries no code that no product
entry reaches, and a Python worker imports only the modules it needs."""

import ast
import inspect
import os
import pathlib
import subprocess
import sys

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


REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "aml_entity_resolution_assignment_spark"

# Product entries: the registered queries, the pipeline, the jobs, the
# tools and the benchmarks. Tests are not entries.
ENTRY_FILES = ["__spark_entry__.py", "bench.py", "bench_extra.py"]
ENTRY_DIRS = ["jobs", "tools", "perfbench"]
ENTRY_NAMES = {"run_pipeline"}  # plans/pipeline.py

# Package definitions kept although no product entry reaches them. Each
# says why; what they call is kept with them. A key names a module
# (every definition in it) or module.function.
KEPT = {
    # scalar reference implementations the kernel tests compare against
    "functions.minhash.minhash_signature": "reference for batch_minhash",
    "functions.minhash.band_hashes": "reference for the band kernels",
    "functions.minhash.shingle_hashes": "reference for the shingle hash",
    "functions.minhash.simhash64": "reference for batch_simhash",
    "functions.minhash.hamming64": "reference for the simhash verify",
    "functions.similarity.token_jaccard": "reference for the Jaccard kernels",
    "functions.similarity.monge_elkan": "reference for batch_monge_elkan",
    "functions.pprl.clk_positions": "Bloom positions the CLK property tests check",
    # fixture encoders and writers the decoder and reader tests need
    "functions.jpeg.encode_jpeg_color": "jpeg decoder fixtures",
    "functions.png.encode_png_palette": "png decoder fixtures",
    "functions.png.encode_png_subbyte": "png decoder fixtures",
    "functions.wav.encode_wav_ima": "wav decoder fixtures",
    "functions.wav.encode_wav_g711": "wav decoder fixtures",
    "functions.bmp.encode_ico": "ico decoder fixtures",
    "operators.multimodal.encode_pgm": "netpbm decoder fixtures",
    "operators.multimodal.encode_ppm": "netpbm decoder fixtures",
    "sources.warc.write_warc": "WARC reader fixtures",
    "sources.warc.write_wet": "WET reader fixtures",
    # the streaming API README documents
    "streaming.stream": "README's streaming API",
    "sources.warc.read_warc_stream": "README's streaming API",
    # the only producer of --model-path models (reference train_model.py)
    "ml.model": "trains the pipeline's --model-path models",
    # reference features with no product caller yet
    "sources.io.configure_hadoop_catalog": "Iceberg tables",
    "sources.io.iceberg_available": "Iceberg tables",
    "sources.io.read_table_iceberg": "Iceberg tables",
    "sources.io.write_table_iceberg": "Iceberg tables",
    "sources.io.export_review_cases": "reference E6 review export",
    "plans.pipeline.read_metrics": "reads a run's metrics table",
    "operators.blocking.key_coverage": "reference B6 key histogram",
    "functions.normalize.norm_national_id": "pinned by the case-mapping parity test",
    "functions.bzip2.decode_bzip2": "whole-stream decode the bz2 tests check against",
    "sources.bz2_dump.read_bz2_blocks": "raw parallel block decode of a .bz2 dump",
}


def _used_names(node) -> set[str]:
    """Every identifier, attribute and imported name under `node`: a
    name match counts as a use, so the scan errs toward keeping."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _package_reach(extra_roots: set[str]):
    """(definitions, reached): every top-level function and class of the
    package as "module.name" -> node, and those a product entry, a
    module's import-time code or `extra_roots` reaches by name."""
    defs, roots = {}, set(ENTRY_NAMES)
    for f in sorted((REPO / PKG).rglob("*.py")):
        mod = ".".join(f.relative_to(REPO / PKG).with_suffix("").parts)
        for n in ast.parse(f.read_text()).body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{n.name}"] = n
            else:
                roots |= _used_names(n)
    entries = [REPO / f for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        entries += [f for f in (REPO / d).rglob("*.py") if not f.name.startswith("test_")]
    for f in entries:
        roots |= _used_names(ast.parse(f.read_text()))
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.rsplit(".", 1)[1], []).append(key)
    reached, seen = set(), set()
    todo = list(roots) + [
        k for k in defs if k in extra_roots or k.rsplit(".", 1)[0] in extra_roots
    ]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for key in [name] if name in defs else by_name.get(name, []):
            if key not in reached:
                reached.add(key)
                todo.extend(_used_names(defs[key]))
    return defs, reached


def test_every_package_function_is_reached_by_a_product_entry():
    """A package function or class that no product entry reaches, and
    KEPT does not name, has only test callers: delete it with its tests.
    A KEPT entry that is missing, or that an entry reaches anyway, is
    stale and must go."""
    defs, reached = _package_reach(set(KEPT))
    dead = sorted(set(defs) - reached)
    assert not dead, f"package code no product entry reaches: {dead}"
    _, reached_without = _package_reach(set())
    modules = {k.rsplit(".", 1)[0] for k in defs}
    stale = sorted(
        k for k in KEPT
        if k in reached_without or (k not in defs and k not in modules)
    )
    assert not stale, f"stale KEPT entries: {stale}"


def test_worker_import_of_a_kernel_module_loads_few_engine_modules():
    """A Python worker that unpickles a MinHash UDF imports its module;
    the subpackage __init__s must not pull in the rest of the engine
    (every codec, vp8 included)."""
    code = (
        "import sys\n"
        f"import {PKG}.functions.minhash\n"
        f"print('\\n'.join(m for m in sys.modules if m.split('.')[0] == '{PKG}'))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": str(REPO)},
        capture_output=True,
        text=True,
        check=True,
    )
    loaded = out.stdout.split()
    assert 0 < len(loaded) <= 5, loaded
