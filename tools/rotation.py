"""Standing correctness-window rotation (r4 judge #2).

The driver's oracle gate checks the FIRST 50 entries of
``__spark_entry__.queries()``.  With more registered queries than the
window holds, anything outside it drifts unverified as code evolves (that is exactly
how the r3 gap formed, and the r4 ADVICE found tandem engine+oracle
edits sitting beyond position 50).  This tool computes the window
from evidence instead of by hand:

1. every query whose code changed since the last driver round —
   determined from ``git diff <last-round-boundary>..HEAD`` mapped
   through the package import graph (one query depends on the
   transitive file closure of the modules its builder references;
   ``js.*`` pulls in the whole plans/functions/core engine), plus
   hunk-overlap for edits inside ``__spark_entry__.py`` itself;
2. then the longest-unverified tail — queries ordered by the round
   their last green CORRECTNESS row was recorded (CORRECTNESS_r*.json).

Usage:
  python tools/rotation.py            # report the computed order
  python tools/rotation.py --apply    # write rotation_order.json
                                      # (consumed by queries())

``queries()`` reorders its registry by rotation_order.json when the
file is present; the driver needs no other coupling.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def last_round_boundary() -> str:
    """Most recent driver round commit ('round N: verdict/...')."""
    for line in _git("log", "--oneline", "--format=%h %s").splitlines():
        sha, _, msg = line.partition(" ")
        if re.match(r"round \d+: verdict", msg):
            return sha
    return _git("rev-list", "--max-parents=0", "HEAD").split()[0]


def changed_files(boundary: str) -> set[str]:
    out = _git("diff", "--name-only", f"{boundary}..HEAD")
    files = set(out.split())
    # uncommitted edits count too: they are what the driver will run
    files |= set(_git("diff", "--name-only", "HEAD").split())
    return {f for f in files if f.endswith(".py")}


def import_graph() -> dict[str, set[str]]:
    """File-level intra-package import edges for jsonschema_spark."""
    pkg = os.path.join(REPO, "jsonschema_spark")
    mods: dict[str, str] = {}  # dotted module -> repo-relative path
    for root, _dirs, names in os.walk(pkg):
        for n in names:
            if not n.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, n), REPO)
            dotted = rel[:-3].replace("/", ".")
            if dotted.endswith(".__init__"):
                dotted = dotted[: -len(".__init__")]
            mods[dotted] = rel
    graph: dict[str, set[str]] = {}
    pat = re.compile(
        r"^\s*(?:from\s+([.\w]+)\s+import\s+([\w, ()*]+)|import\s+([.\w]+))",
        re.M,
    )
    for dotted, rel in mods.items():
        with open(os.path.join(REPO, rel)) as f:
            src = f.read()
        deps: set[str] = set()
        pkg_parts = dotted.split(".")
        for m in pat.finditer(src):
            frm, names, imp = m.group(1), m.group(2), m.group(3)
            target = frm or imp
            if target.startswith("."):
                up = len(target) - len(target.lstrip("."))
                base = pkg_parts[: len(pkg_parts) - up]
                stem = target.lstrip(".")
                cand = ".".join(base + ([stem] if stem else []))
            elif target.startswith("jsonschema_spark"):
                cand = target
            else:
                continue
            if cand in mods:
                deps.add(mods[cand])
            # 'from .x import a, b' where .x is a package: a/b may be
            # modules of that package
            if frm and names:
                for nm in re.split(r"[,\s()]+", names):
                    sub = f"{cand}.{nm}" if nm else None
                    if sub and sub in mods:
                        deps.add(mods[sub])
        graph[rel] = deps
    return graph


def closure(seeds: set[str], graph: dict[str, set[str]]) -> set[str]:
    out, todo = set(seeds), list(seeds)
    while todo:
        for d in graph.get(todo.pop(), ()):
            if d not in out:
                out.add(d)
                todo.append(d)
    return out


# alias used inside a q_* function body -> module file(s) it pins.
# 'js' is the package boundary: compile_schema pulls the whole
# plans/functions/core engine.
_ENGINE_ROOTS = [
    "jsonschema_spark/__init__.py",
    "jsonschema_spark/plans/compiler.py",
    "jsonschema_spark/plans/keywords_base.py",
    "jsonschema_spark/plans/keywords_logic.py",
    "jsonschema_spark/plans/keywords_magic.py",
    "jsonschema_spark/plans/keywords_script.py",
    "jsonschema_spark/plans/formats.py",
    "jsonschema_spark/functions/expr_lang.py",
    "jsonschema_spark/functions/values.py",
]


def query_deps(graph: dict[str, set[str]]) -> dict[str, set[str]]:
    import inspect

    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    alias_re = re.compile(r"\b([a-z_][a-z0-9_]*)\.")
    inline_re = re.compile(r"from\s+(jsonschema_spark[.\w]*)\s+import\s+([\w, ]+)")
    alias_to_files: dict[str, list[str]] = {
        "js": list(_ENGINE_ROOTS),
        "session": ["jsonschema_spark/core/session.py"],
    }
    ops = "jsonschema_spark/operators"
    for name in os.listdir(os.path.join(REPO, ops)):
        if name.endswith(".py") and name != "__init__.py":
            alias_to_files[name[:-3]] = [f"{ops}/{name}"]
    for name in ("sources", "plans", "functions", "core"):
        alias_to_files[name] = [f"jsonschema_spark/{name}/__init__.py"]

    deps: dict[str, set[str]] = {}
    for qname, fn in E.queries().items():
        src = inspect.getsource(fn)
        seeds: set[str] = set()
        for m in alias_re.finditer(src):
            for f in alias_to_files.get(m.group(1), ()):
                seeds.add(f)
        for m in inline_re.finditer(src):
            base = m.group(1).replace(".", "/")
            for nm in re.split(r"[,\s]+", m.group(2)):
                for cand in (f"{base}/{nm}.py", f"{base}.py"):
                    if os.path.exists(os.path.join(REPO, cand)):
                        seeds.add(cand)
                        break
        deps[qname] = closure(seeds, graph)
    return deps


def entry_hunks(boundary: str) -> list[tuple[int, int]]:
    """(new_start, new_count) hunks of __spark_entry__.py since boundary."""
    out = _git("diff", "-U0", f"{boundary}..HEAD", "--", "__spark_entry__.py")
    out += _git("diff", "-U0", "HEAD", "--", "__spark_entry__.py")
    hunks = []
    for m in re.finditer(r"^@@ [^+]*\+(\d+)(?:,(\d+))? @@", out, re.M):
        hunks.append((int(m.group(1)), int(m.group(2) or "1")))
    return hunks


def entry_changed_queries(boundary: str) -> tuple[set[str], set[str]]:
    """Queries whose q_* function source overlaps an entry-file hunk,
    plus queries literally named on changed lines outside any function
    (oracle-SQL table edits)."""
    import inspect

    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    hunks = entry_hunks(boundary)
    if not hunks:
        return set(), set()
    qs = E.queries()
    spans = {}
    for qname, fn in qs.items():
        lines, start = inspect.getsourcelines(fn)
        spans[qname] = (start, start + len(lines) - 1)
    in_fn: set[str] = set()
    for qname, (a, b) in spans.items():
        for hs, hc in hunks:
            if hs <= b and (hs + max(hc, 1) - 1) >= a:
                in_fn.add(qname)
    # changed lines outside any q_* span that mention a query name
    # (oracle dict rows, _SQL constants keyed by name)
    named: set[str] = set()
    diff_text = _git("diff", "-U0", f"{boundary}..HEAD", "--", "__spark_entry__.py")
    diff_text += _git("diff", "-U0", "HEAD", "--", "__spark_entry__.py")
    for line in diff_text.splitlines():
        if line.startswith("+") and not line.startswith("+++"):
            for qname in qs:
                if f'"{qname}"' in line:
                    named.add(qname)
    return in_fn, named


def last_verified() -> dict[str, int]:
    """Query -> latest round with a fully-green CORRECTNESS row."""
    out: dict[str, int] = {}
    for fn in sorted(os.listdir(REPO)):
        m = re.match(r"CORRECTNESS_r(\d+)\.json$", fn)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(os.path.join(REPO, fn)) as f:
            data = json.load(f)
        for q, row in data.items():
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("err") in (None, "")
            )
            if ok:
                out[q] = max(out.get(q, 0), rnd)
    return out


def compute_order() -> dict:
    boundary = last_round_boundary()
    changed = changed_files(boundary)
    graph = import_graph()
    deps = query_deps(graph)
    in_fn, named = entry_changed_queries(boundary)
    verified = last_verified()

    changed_qs = {
        q for q, d in deps.items() if d & changed
    } | in_fn | named
    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    registry = list(E.queries())
    pos = {q: i for i, q in enumerate(registry)}
    # highest risk first: queries whose OWN builder or oracle text
    # changed (tandem engine+oracle edits — the r4 advice finding)
    # outrank queries merely in a changed module's closure; staleness
    # breaks ties within each class.
    direct = in_fn | named

    def age_key(q):
        return (q not in direct, verified.get(q, 0), pos[q])

    head = sorted(changed_qs, key=age_key)
    tail = sorted((q for q in registry if q not in changed_qs), key=age_key)
    order = head + tail
    return {
        "boundary": boundary,
        "changed_files": sorted(changed),
        "changed_queries": sorted(changed_qs),
        "n_changed": len(changed_qs),
        "window": order[:WINDOW],
        "overflow_changed": [q for q in head[WINDOW:]],
        "order": order,
    }


def main() -> None:
    res = compute_order()
    print(f"boundary: {res['boundary']}")
    print(f"changed files ({len(res['changed_files'])}): "
          + " ".join(res["changed_files"]))
    print(f"changed queries ({res['n_changed']}): "
          + " ".join(res["changed_queries"]))
    if res["overflow_changed"]:
        print("WARNING: changed queries overflow the 50-wide window: "
              + " ".join(res["overflow_changed"]))
    print("window[50]:")
    for q in res["window"]:
        print(f"  {q}")
    if "--apply" in sys.argv:
        path = os.path.join(REPO, "rotation_order.json")
        with open(path, "w") as f:
            json.dump(
                {"boundary": res["boundary"], "order": res["order"]},
                f, indent=1,
            )
        print(f"written {path}")


if __name__ == "__main__":
    main()
