"""The package surface ``perfbench/`` calls, checked without Spark.

``perfbench`` (the end-to-end benchmark) imports names from the package and
calls them with keyword arguments. A rename or a dropped keyword there
would first fail in a benchmark run; these checks make it fail here.
"""

import ast
import importlib
import inspect
import os

import pytest

PKG = "tfx_addons_feast_examplegen_spark"
PERFBENCH = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench")

# (module, function, positional args, keyword args) as perfbench passes them
_X = object()  # any value: only the call shape is checked
CALLS = [
    ("registry", "Registry.from_yaml", [_X], {}),
    ("session", "get_spark", ["perfbench"], {}),
    ("session", "register_tables", [_X, _X], {}),
    ("sources.examplegen", "generate_examples", [_X], dict(
        registry=_X, entity_query=_X, features=_X, sf_dir=_X,
        output_dir=_X, params=_X, output_format=_X,
    )),
    ("sources.examplegen", "encode_examples", [_X], {}),
    ("sources.examplegen", "substitute_params", [_X, _X], {}),
    ("operators.pit_join", "materialize_features", [_X], dict(
        entity_query=_X, features=_X, registry=_X, sf_dir=_X,
    )),
    ("operators.pit_join", "last_strategy_choices", [], {}),
    ("operators.split", "hash_split", [_X, _X], {}),
    ("sources.tfrecord", "write_partitioned_tfrecords", [_X, _X], dict(
        bytes_col=_X, split_col=_X,
    )),
    ("sources.tfrecord", "read_tfrecord_dataset", [_X, _X, _X], {}),
    ("sources.tfrecord", "crc32c", [_X], {}),
    ("functions.tfexample", "encode_example", [_X], {}),
    ("functions.tfexample", "decode_example", [_X], {}),
]


def _resolve(module: str, qualname: str):
    obj = importlib.import_module(f"{PKG}.{module}")
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return obj


def _perfbench_imports():
    """(module, name) of every ``from <package>... import name`` in the
    benchmark's program files (its own test file excluded)."""
    found = set()
    for fname in sorted(os.listdir(PERFBENCH)):
        if not fname.endswith(".py") or fname.startswith("test_"):
            continue
        with open(os.path.join(PERFBENCH, fname)) as f:
            tree = ast.parse(f.read(), fname)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).startswith(PKG):
                found.update((node.module, a.name) for a in node.names)
    return sorted(found)


def test_every_name_perfbench_imports_exists():
    imports = _perfbench_imports()
    assert imports, "no package imports found under perfbench/"
    missing = [
        f"{mod}.{name}"
        for mod, name in imports
        if not hasattr(importlib.import_module(mod), name)
    ]
    assert not missing, missing


def test_call_table_covers_perfbench_imports():
    # a new import in perfbench needs its call shape recorded above
    called = {(f"{PKG}.{m}", q.split(".")[0]) for m, q, _, _ in CALLS}
    assert set(_perfbench_imports()) <= called


@pytest.mark.parametrize(
    "module,qualname,args,kwargs", CALLS, ids=[c[1] for c in CALLS]
)
def test_perfbench_call_shapes_bind(module, qualname, args, kwargs):
    inspect.signature(_resolve(module, qualname)).bind(*args, **kwargs)


def test_perfbench_output_formats_exist():
    from tfx_addons_feast_examplegen_spark.sources import examplegen

    assert examplegen.FORMAT_TF_EXAMPLE == "tf_example"
    assert examplegen.FORMAT_PARQUET == "parquet"
