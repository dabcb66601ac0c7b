import ast
import os

import pytest

import spans

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
LAKE = os.path.join(ROOT, "nifi_nlp_processor_spark", "lake.py")
RUNNER = os.path.join(ROOT, "nifi_nlp_processor_spark", "runner.py")


def _line_in(path, func):
    """A line inside the body of ``func`` in ``path``."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == func:
            return node.body[-1].lineno
    raise AssertionError(f"{func} not in {path}")


@pytest.mark.parametrize(
    "path,func,layer",
    [
        (LAKE, "probe_batch", "probe"),
        (LAKE, "probe_epochs", "probe"),
        (LAKE, "merge_into", "merge"),
        (LAKE, "_collect_part_stats", "merge"),
        (LAKE, "compact", "compact"),
        (RUNNER, "apply_epoch", "quarantine"),
        (RUNNER, "apply_epochs", "runner"),
    ],
)
def test_call_site_maps_to_layer(path, func, layer):
    assert spans.layer_of(f"collect at {path}:{_line_in(path, func)}") == layer


def test_unknown_sites_map_to_no_layer(tmp_path):
    other = tmp_path / "elsewhere.py"
    other.write_text("def f():\n    return 1\n")
    assert spans.layer_of(f"collect at {other}:2") is None
    assert spans.layer_of("parquet at NativeMethodAccessorImpl.java:0") is None
    assert spans.layer_of("") is None
    # a line outside every function of a mapped file has no layer either
    assert spans.layer_of(f"collect at {LAKE}:1") is None


def test_forced_read_maps_to_read():
    path = os.path.join(ROOT, "perfbench", "workloads.py")
    assert spans.layer_of(f"collect at {path}:{_line_in(path, 'force')}") == "read"


def test_attribution_adds_up_to_the_wall():
    probe_site = f"collect at {LAKE}:{_line_in(LAKE, 'probe_batch')}"
    merge_site = f"parquet at {LAKE}:{_line_in(LAKE, 'merge_into')}"
    span = {"id": 7, "run": "r", "start": 100.0, "end": 110.0}
    jobs = [
        {"job": 1, "group": "pb-r-7", "site": probe_site, "start": 100.5, "end": 101.5, "stages": []},
        {"job": 2, "group": "pb-r-7", "site": merge_site, "start": 102.0, "end": 106.0, "stages": []},
        {"job": 3, "group": "pb-r-7", "site": "count at x.java:0", "start": 106.0, "end": 107.0, "stages": []},
        {"job": 4, "group": "pb-r-8", "site": merge_site, "start": 100.0, "end": 110.0, "stages": []},
    ]
    a = spans.attribute(span, jobs)
    assert a["layers"] == {"probe": 1.0, "merge": 4.0}
    assert a["unattributed_s"] == 1.0
    assert a["driver_s"] == pytest.approx(4.0)
    assert a["overlap_s"] == pytest.approx(0.0)
    assert sum(a["layers"].values()) + a["driver_s"] + a["unattributed_s"] == pytest.approx(a["wall_s"])
    assert a["jobs"] == [1, 2, 3]


def test_union_of_intervals():
    assert spans.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_s([]) == 0


def test_helper_jobs_count_for_the_calling_layer(tmp_path):
    """A job started in an unmapped helper (a shared file reader) takes
    the call site of the nearest mapped caller on the stack."""
    pkg = tmp_path / "nifi_nlp_processor_spark"
    pkg.mkdir()
    (pkg / "lake.py").write_text(
        "import spans\n"
        "def compact():\n"
        "    return _union()\n"
        "def _union():\n"
        "    return shim()\n"
        "def shim():\n"
        "    return spans._python_call_site('parquet')\n"
    )
    ns = {}
    exec(compile((pkg / "lake.py").read_text(), str(pkg / "lake.py"), "exec"), ns)
    site = ns["compact"]()
    assert site == f"parquet at {pkg / 'lake.py'}:3"
    assert spans.layer_of(site) == "compact"
