"""The registry's lazy loading: ``load_all()`` reads names from the
query modules' sources and imports a module only when one of its names
is looked up. Checks that need a fresh interpreter (nothing imported
yet) run in a subprocess."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from severless_data_pipeline_aws_spark import registry

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fresh(code: str) -> dict:
    """Run ``code`` in a fresh interpreter; its last stdout line is JSON."""
    run = subprocess.run([sys.executable, "-c", code], cwd=_ROOT, capture_output=True,
                         text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-2000:]
    return json.loads(run.stdout.splitlines()[-1])


def test_load_all_imports_no_query_module():
    """load_all() imports nothing; one lookup imports the owning module only."""
    got = _fresh(
        "import json, sys\n"
        "from severless_data_pipeline_aws_spark import registry\n"
        "specs = registry.load_all()\n"
        "loaded = lambda: [m for m in registry._QUERY_MODULES if m in sys.modules]\n"
        "before = loaded()\n"
        "spec = specs['dedup_connected_components']\n"
        "print(json.dumps({'n': len(specs), 'before': before, 'after': loaded(),\n"
        "                  'name': spec.name, 'mod': spec.fn.__module__}))\n"
    )
    assert got["n"] == len(registry.load_all())
    assert got["before"] == []
    # dedup imports no other query module at import time
    dedup = "severless_data_pipeline_aws_spark.operators.dedup"
    assert got["after"] == [dedup]
    assert (got["name"], got["mod"]) == ("dedup_connected_components", dedup)


def test_scan_matches_the_decorator():
    """Every name the decorator registers is found by the source scan, in
    each module's registration order, under the module that defines it.

    Query modules import each other while they load (funnel -> text), so
    the registry interleaves modules; within one module its order is the
    decorator's."""
    specs = registry.load_all()
    for name in specs:  # import every module
        specs[name]
    by_module: dict[str, list[str]] = {}
    for name, spec in registry._REGISTRY.items():
        by_module.setdefault(spec.fn.__module__, []).append(name)
    decorated = [(n, m) for m in registry._QUERY_MODULES for n in by_module.pop(m, [])]
    assert by_module == {}, "queries registered outside _QUERY_MODULES"
    assert registry._scan() == decorated


def _query_package(tmp_path, files: dict[str, str], monkeypatch) -> None:
    """Point the registry at a throwaway package ``qpkg`` holding ``files``."""
    pkg = tmp_path / "qpkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    for mod, body in files.items():
        (pkg / f"{mod}.py").write_text(body)
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(registry, "_PKG_DIR", str(pkg))
    monkeypatch.setattr(registry, "_QUERY_MODULES", tuple(f"qpkg.{m}" for m in ("a", "b", "c")))
    monkeypatch.setattr(registry, "_REGISTRY", {})
    monkeypatch.setattr(registry, "_imported", set())
    monkeypatch.setattr(registry, "_failed", {})
    for mod in [m for m in sys.modules if m == "qpkg" or m.startswith("qpkg.")]:
        monkeypatch.delitem(sys.modules, mod)


_QUERY = '''
from severless_data_pipeline_aws_spark.registry import register


@register(
    "{name}",
    oracle="SELECT 1",
)
def q_{name}(spark, sf_dir):
    return spark.range(1)
'''


def test_name_in_two_modules_raises(tmp_path, monkeypatch):
    _query_package(tmp_path, {"a": _QUERY.format(name="x"), "b": _QUERY.format(name="x"),
                              "c": _QUERY.format(name="y")}, monkeypatch)
    with pytest.raises(ValueError, match="duplicate query name 'x'"):
        registry.load_all()


def test_missing_module_warns(tmp_path, monkeypatch):
    _query_package(tmp_path, {"a": _QUERY.format(name="x"), "c": _QUERY.format(name="y")},
                   monkeypatch)
    with pytest.warns(UserWarning, match="qpkg.b not built yet"):
        specs = registry.load_all()
    assert list(specs) == ["x", "y"]
    assert specs["y"].oracle == "SELECT 1"


def test_import_error_surfaces_at_every_lookup(tmp_path, monkeypatch):
    """An error inside a module is raised at the first lookup of any of
    its names and again at every later one; other modules still load."""
    broken = _QUERY.format(name="x") + _QUERY.format(name="z") + "\nraise RuntimeError('boom')\n"
    _query_package(tmp_path, {"a": broken, "b": _QUERY.format(name="y"), "c": ""}, monkeypatch)
    specs = registry.load_all()
    assert list(specs) == ["x", "y", "z"]
    for name in ("z", "x", "z"):
        with pytest.raises(RuntimeError, match="boom"):
            specs[name]
    assert specs["y"].name == "y"


def test_eight_threads_resolve_on_a_fresh_mapping():
    """Eight threads look up names of eight modules at the same moment,
    in a fresh interpreter with a short thread switch interval; funnel,
    similarity and text import each other while they load. Every thread
    gets its spec."""
    got = _fresh(
        "import json, sys, threading\n"
        "sys.setswitchinterval(1e-5)\n"
        "from severless_data_pipeline_aws_spark import registry\n"
        "specs = registry.load_all()\n"
        "mods = ['funnel', 'sampling', 'similarity', 'text', 'dedup', 'graphs', 'dashboard',\n"
        "        'stats']\n"
        "owner = dict(registry._scan())\n"
        "names = [next(n for n in specs if owner[n].endswith('.' + m)) for m in mods]\n"
        "barrier, out = threading.Barrier(len(names)), {}\n"
        "def run(n):\n"
        "    barrier.wait(timeout=60)\n"
        "    try:\n"
        "        out[n] = specs[n].name\n"
        "    except Exception as exc:\n"
        "        out[n] = repr(exc)\n"
        "threads = [threading.Thread(target=run, args=(n,)) for n in names]\n"
        "[t.start() for t in threads]\n"
        "[t.join(timeout=120) for t in threads]\n"
        "print(json.dumps({'names': names, 'out': out}))\n"
    )
    assert len(set(got["names"])) == 8
    assert got["out"] == {n: n for n in got["names"]}
