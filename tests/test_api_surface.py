"""Every optional parameter of the public API has a caller that sets it.

An optional parameter selects a behaviour; one that no call in the repo
ever passes is an untested configuration. This test scans the public
module-level functions of ``sparkgraft/*.py`` and every call in the
library, the tests, the tools, the benchmark and ``bench.py``, and
fails listing ``module.function.param`` for each optional parameter
nothing sets. A parameter counts as set when a call passes it by
keyword, by position, or through ``**kw`` where ``kw = dict(...)``.
Calls are matched by function name, so a keyword passed to any
function of that name counts.

Column-name parameters are exempt by name: choosing a column selects
no code path, and sibling operators keep matching signatures.
Deployment settings are exempt through ``DEPLOYMENT`` below.
"""
from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CALLER_DIRS = ("sparkgraft", "tests", "tools", "perfbench")

COLUMN_NAME = re.compile(
    r"_cols?$|^(src|dst|id_a|id_b|left_ts|right_ts|valid_from|valid_to"
    r"|total_name)$"
)

# module.function.param -> why it stays configurable with no caller
DEPLOYMENT = {
    "warc.read_warc_dir.glob": "file-name pattern of a crawl archive "
    "directory, set by where the archives live",
}


def _public_optional_params():
    for path in sorted((ROOT / "sparkgraft").glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            if node.name.startswith("_"):
                continue
            a = node.args
            positional = [x.arg for x in a.posonlyargs + a.args]
            optional = positional[len(positional) - len(a.defaults):]
            optional += [
                x.arg
                for x, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            for param in optional:
                pos = positional.index(param) if param in positional else None
                yield path.stem, node.name, param, pos


def _dict_keys(call):
    return {k.arg for k in call.keywords if k.arg}


def _is_dict_call(node):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
    )


def _set_params():
    """(function name -> keywords passed, function name -> most
    positional arguments passed) over every call in the repo."""
    keywords = defaultdict(set)
    positional = defaultdict(int)
    files = [p for d in CALLER_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    for path in files + [ROOT / "bench.py"]:
        tree = ast.parse(path.read_text())
        spread = defaultdict(set)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and _is_dict_call(node.value)
            ):
                spread[node.targets[0].id] |= _dict_keys(node.value)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Attribute):
                name = f.attr
            elif isinstance(f, ast.Name):
                name = f.id
            else:
                continue
            for kw in node.keywords:
                if kw.arg:
                    keywords[name].add(kw.arg)
                elif isinstance(kw.value, ast.Name):
                    keywords[name] |= spread[kw.value.id]
                elif _is_dict_call(kw.value):
                    keywords[name] |= _dict_keys(kw.value)
            if any(isinstance(a, ast.Starred) for a in node.args):
                positional[name] = 1 << 30
            else:
                positional[name] = max(positional[name], len(node.args))
    return keywords, positional


def test_every_optional_parameter_has_a_setter():
    keywords, positional = _set_params()
    never_set = [
        f"{module}.{func}.{param}"
        for module, func, param, pos in _public_optional_params()
        if param not in keywords[func]
        and (pos is None or pos >= positional[func])
        and not COLUMN_NAME.search(param)
        and f"{module}.{func}.{param}" not in DEPLOYMENT
    ]
    assert not never_set, (
        "optional parameters no call sets; make them constants: "
        + ", ".join(never_set)
    )


def test_deployment_allow_list_is_current():
    """Every allow-listed entry still names a real optional parameter,
    so the list cannot outlive the code it exempts."""
    known = {f"{m}.{f}.{p}" for m, f, p, _ in _public_optional_params()}
    assert set(DEPLOYMENT) <= known
