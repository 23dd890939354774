"""Mechanical driver-window ordering (round-7 verdict task #1).

Maps every gate (one row of the ``GATES`` table in
``__spark_entry__.py``) to the code that backs it — the gate
function's own source (transitive closure over the top-level names it
references in ``__spark_entry__.py``, INCLUDING its oracle-SQL
constant) plus the package modules that closure imports (transitive
over the package's internal import graph) — then asks git two
questions per gate:

* when was it last driver-checked? (scan ``CORRECTNESS_r*.json``)
* did any backing code change since that round's boundary commit?
  (``git diff --name-only`` for module files; a source-segment hash
  of the entry-file closure, recomputed from
  ``git show <boundary>:__spark_entry__.py``, for the gate body and
  its oracle)

and emits the next window order: never-checked gates first, then
everything else stalest-round first, with changed-since-check gates
leading their staleness cohort (round-9 policy: a changed-but-
recently-checked gate queues behind genuinely stale unchanged rows —
it is re-verifiable out-of-band via ``tools/check_oracle.py``, while
driver evidence for a stale row only refreshes through the window).
``queries()`` consumes the checked-in
``tools/gate_order.json`` so the ordering IS the tool's output, not
curated prose. ``--markdown`` prints the freshness dashboard table
for COVERAGE.md.

Usage: python tools/gate_deps.py [--markdown] [--write]
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = (
    "aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_"
    "lambda_with_cloud_watch_logs_spark"
)
ENTRY = "__spark_entry__.py"


# ---------------------------------------------------------- git helpers


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def round_boundaries() -> dict[int, str]:
    """round number -> the driver's end-of-round commit sha (the code
    state CORRECTNESS_r{N}.json was checked against).

    The driver has used two subject forms for the boundary commit —
    ``round N: verdict/...`` and ``round N: end-of-round snapshot``
    (round 7's is the latter, b545127); match both, newest wins (the
    verdict commit only adds artifact files on top of the snapshot,
    so either anchors the same code state). A round with NEITHER form
    falls back to the newest commit touching its CORRECTNESS file —
    without this, every gate checked in that round is reported
    ``changed=True entry-closure`` against a nonexistent boundary and
    the freshness flag degenerates to all-true noise (r07 verdict
    "What's wrong" #1)."""
    out = {}
    for line in _git("log", "--format=%H %s").splitlines():
        sha, _, subj = line.partition(" ")
        m = re.match(r"round (\d+): (?:verdict|end-of-round snapshot)", subj)
        if m:
            out.setdefault(int(m.group(1)), sha)  # newest occurrence wins
    for fn in os.listdir(REPO):
        m = re.match(r"CORRECTNESS_r(\d+)\.json$", fn)
        if m and int(m.group(1)) not in out:
            # OLDEST commit touching the file = the commit that added
            # it, i.e. the code state the driver actually checked; the
            # newest touch would let a later artifact-only edit
            # silently move the boundary forward and mark genuinely
            # changed gates fresh. A file present but never committed
            # (mid-round run) anchors at HEAD — the check ran against
            # roughly the current tree, and leaving the round
            # boundary-less would flag every one of its gates
            # changed=True 'entry-closure'.
            log = _git("log", "--reverse", "--format=%H", "--", fn)
            sha = log.splitlines()[0].strip() if log.strip() else (
                _git("rev-parse", "HEAD").strip()
            )
            out[int(m.group(1))] = sha
    return out


def changed_files_since(commit: str) -> set[str]:
    diff = _git("diff", "--name-only", commit, "HEAD")
    changed = {ln.strip() for ln in diff.splitlines() if ln.strip()}
    status = _git("status", "--porcelain")
    for ln in status.splitlines():
        changed.add(ln[3:].split(" -> ")[-1].strip())
    return changed


# ----------------------------------------- package import graph (files)


def _resolve_module(parts: list[str]) -> str | None:
    """Dotted module parts (relative to the package root) -> repo-
    relative file path, or None if it isn't a package file."""
    path = os.path.join(PKG, *parts) + ".py"
    if os.path.exists(os.path.join(REPO, path)):
        return path
    init = os.path.join(PKG, *parts, "__init__.py")
    if os.path.exists(os.path.join(REPO, init)):
        return init
    return None


def package_import_graph() -> dict[str, set[str]]:
    """file -> set of package files it imports (direct)."""
    graph: dict[str, set[str]] = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.relpath(os.path.join(root, fn), REPO)
            rel_pkg = os.path.relpath(os.path.dirname(os.path.join(root, fn)),
                                      os.path.join(REPO, PKG))
            pkg_parts = [] if rel_pkg == "." else rel_pkg.split(os.sep)
            deps: set[str] = set()
            try:
                tree = ast.parse(open(os.path.join(REPO, path)).read())
            except SyntaxError:
                continue
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom):
                    if node.level:
                        base = pkg_parts[: len(pkg_parts) - (node.level - 1)]
                    elif node.module and node.module.startswith(PKG):
                        base = node.module[len(PKG):].lstrip(".").split(".")
                        base = [p for p in base if p]
                        node = ast.ImportFrom(  # treat module as consumed
                            module=None, names=node.names, level=0
                        ) if False else node
                    else:
                        continue
                    if node.level:
                        mod_parts = base + (
                            node.module.split(".") if node.module else []
                        )
                    else:
                        mod_parts = (
                            node.module[len(PKG):].lstrip(".").split(".")
                            if node.module else []
                        )
                        mod_parts = [p for p in mod_parts if p]
                    for alias in node.names:
                        target = _resolve_module(mod_parts + [alias.name])
                        if target is None:
                            target = _resolve_module(mod_parts)
                        if target:
                            deps.add(target)
                elif isinstance(node, ast.Import):
                    for alias in node.names:
                        if alias.name.startswith(PKG):
                            parts = alias.name[len(PKG):].lstrip(".").split(".")
                            parts = [p for p in parts if p]
                            target = _resolve_module(parts)
                            if target:
                                deps.add(target)
            graph[path] = deps - {path}
    return graph


def transitive(graph: dict[str, set[str]], seeds: set[str]) -> set[str]:
    out, frontier = set(seeds), list(seeds)
    while frontier:
        for dep in graph.get(frontier.pop(), ()):  # noqa: B909
            if dep not in out:
                out.add(dep)
                frontier.append(dep)
    return out


# --------------------------------------- entry-file closure per gate


# One source line with its line end, split as ``ast.get_source_segment``
# splits (on \r\n, \r and \n only, never on form feeds).
_LINE = re.compile(r"[^\r\n]*(?:\r\n|\r|\n)|[^\r\n]+\Z")


def gate_table(tree: ast.AST) -> dict[str, str]:
    """gate name -> oracle-constant name, from the ``Gate(plan,
    ORACLE_SQL, ...)`` rows of the ``GATES`` table in one parsed
    __spark_entry__.py. A gate's name is its plan function's name."""
    out: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and getattr(node.func, "id", "") == "Gate":
            plan, oracle = node.args[:2]
            out[plan.id] = oracle.id
    return out


class _EntryAnalysis:
    """Top-level defs and package-import aliases of one revision of
    __spark_entry__.py, plus the gate -> oracle-constant map. Round-
    boundary revisions are read with the CURRENT map (``oracle_const``):
    the older ones declared gates in other forms, and one map keeps
    each gate's hash roots the same at every revision."""

    def __init__(self, source: str, oracle_const: dict[str, str] | None = None):
        self.tree = ast.parse(source)
        self.lines = _LINE.findall(source)
        self.defs: dict[str, ast.AST] = {}
        self.alias_files: dict[str, str] = {}
        for node in self.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                self.defs[node.name] = node
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        self.defs[t.id] = node
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                self.defs[node.target.id] = node
            elif isinstance(node, ast.ImportFrom) and node.module and (
                node.module.startswith(PKG)
            ):
                mod_parts = [
                    p for p in node.module[len(PKG):].lstrip(".").split(".")
                    if p
                ]
                for alias in node.names:
                    name = alias.asname or alias.name
                    target = _resolve_module(mod_parts + [alias.name])
                    if target is None:
                        target = _resolve_module(mod_parts)
                    if target:
                        self.alias_files[name] = target
        self.oracle_const = (
            gate_table(self.tree) if oracle_const is None else oracle_const
        )

    def closure(self, names: list[str]) -> tuple[set[str], set[str]]:
        """-> (top-level def names, package files) reachable."""
        seen: set[str] = set()
        files: set[str] = set()
        frontier = [n for n in names if n in self.defs]
        while frontier:
            name = frontier.pop()
            if name in seen:
                continue
            seen.add(name)
            for node in ast.walk(self.defs[name]):
                if isinstance(node, ast.Name):
                    nid = node.id
                    if nid in self.alias_files:
                        files.add(self.alias_files[nid])
                    elif nid in self.defs and nid not in seen:
                        frontier.append(nid)
        return seen, files

    def gate_hash(self, gate: str) -> str | None:
        if gate not in self.defs:
            return None
        names, _files = self.closure([gate, self.oracle_const[gate]])
        segs = sorted(self._segment(self.defs[n]) or n for n in names)
        return hashlib.sha256("\n".join(segs).encode()).hexdigest()[:16]

    def _segment(self, node: ast.AST) -> str:
        """``ast.get_source_segment(source, node)`` over the lines split
        once in ``__init__``: that function re-splits the whole file on
        every call, which made a run of this tool take minutes."""
        first, last = node.lineno - 1, node.end_lineno - 1
        col, end_col = node.col_offset, node.end_col_offset
        if first == last:
            return self.lines[first].encode()[col:end_col].decode()
        return "".join([
            self.lines[first].encode()[col:].decode(),
            *self.lines[first + 1:last],
            self.lines[last].encode()[:end_col].decode(),
        ])

    def gate_files(self, gate: str, graph: dict[str, set[str]]) -> set[str]:
        _names, files = self.closure([gate, self.oracle_const[gate]])
        return transitive(graph, files)


# -------------------------------------------------------------- driver


def last_checked() -> dict[str, int]:
    out: dict[str, int] = {}
    for fn in sorted(os.listdir(REPO)):
        m = re.match(r"CORRECTNESS_r(\d+)\.json$", fn)
        if not m:
            continue
        rnd = int(m.group(1))
        for gate in json.load(open(os.path.join(REPO, fn))):
            out[gate] = max(out.get(gate, 0), rnd)
    return out


def analyze() -> list[dict]:
    cur = _EntryAnalysis(open(os.path.join(REPO, ENTRY)).read())
    graph = package_import_graph()
    checked = last_checked()
    bounds = round_boundaries()
    old_analyses: dict[int, _EntryAnalysis | None] = {}
    changed_since: dict[int, set[str]] = {}
    for rnd, sha in bounds.items():
        changed_since[rnd] = changed_files_since(sha)
        try:
            old_analyses[rnd] = _EntryAnalysis(
                _git("show", f"{sha}:{ENTRY}"), cur.oracle_const
            )
        except Exception:
            old_analyses[rnd] = None

    rows = []
    for gate in cur.oracle_const:
        rnd = checked.get(gate)
        files = sorted(cur.gate_files(gate, graph))
        if rnd is None:
            rows.append(
                dict(gate=gate, last_round=None, changed=True,
                     reason="never-checked", files=files)
            )
            continue
        reasons = []
        mod_hits = sorted(set(files) & changed_since.get(rnd, set()))
        if mod_hits:
            reasons.append("modules:" + ",".join(
                os.path.basename(f) for f in mod_hits))
        old = old_analyses.get(rnd)
        if old is None or old.gate_hash(gate) != cur.gate_hash(gate):
            reasons.append("entry-closure")
        rows.append(
            dict(gate=gate, last_round=rnd, changed=bool(reasons),
                 reason=";".join(reasons), files=files)
        )

    def key(r):
        # Staleness-first (round-8 verdict task #1): a gate whose
        # backing code changed since an r08 check must NOT displace an
        # unchanged row that has gone unverified since r03 — driver
        # evidence decays monotonically with rounds-since-check, while
        # a changed-but-fresh gate is re-verifiable out-of-band via
        # tools/check_oracle.py (which the builder runs after every
        # module edit and the judge can re-run on HEAD). So: never-
        # checked gates first, then everything else by last-checked
        # round ascending, with changed gates leading their staleness
        # cohort. The old changed-before-all-backlog policy let 45
        # r07-changed rows crowd the 90-row r03–r05 backlog out of the
        # 50-row window indefinitely.
        never = r["last_round"] is None
        return (
            0 if never else 1,
            r["last_round"] or 0,
            0 if r["changed"] else 1,
            r["gate"],
        )

    rows.sort(key=key)
    return rows


def markdown_table(rows: list[dict]) -> str:
    out = ["| Gate | Last checked | Backing modules | Changed since? |",
           "|---|---|---|---|"]
    for r in rows:
        mods = ", ".join(
            os.path.basename(f) for f in r["files"]
            if not f.endswith("__init__.py")
        ) or "(entry-only)"
        rnd = f"r{r['last_round']:02d}" if r["last_round"] else "never"
        flag = r["reason"] if r["changed"] else ""
        out.append(f"| `{r['gate']}` | {rnd} | {mods} | {flag} |")
    return "\n".join(out)


COVERAGE_BEGIN = ("<!-- gate-freshness:begin "
                  "(generated by tools/gate_deps.py --coverage) -->")
COVERAGE_END = "<!-- gate-freshness:end -->"


def rewrite_coverage(rows: list[dict]) -> None:
    """Regenerate the freshness-dashboard section of COVERAGE.md in
    place, between the sentinel comments (appended on first run)."""
    n_never = sum(r["last_round"] is None for r in rows)
    n_changed = sum(r["changed"] and r["last_round"] is not None
                    for r in rows)
    n_fresh = len(rows) - n_never - n_changed
    block = (
        f"{COVERAGE_BEGIN}\n\n"
        "## Gate freshness dashboard (generated)\n\n"
        "Per-gate driver-check staleness: when the driver last "
        "value-checked the gate against DuckDB, which package modules "
        "back it (transitive import+entry closure), and whether any "
        "of that code changed since that round's boundary commit. "
        "Regenerate with `python tools/gate_deps.py --coverage`; the "
        "same ordering feeds `tools/gate_order.json` (= the driver "
        "window order).\n\n"
        f"{len(rows)} gates: {n_never} never checked, {n_changed} "
        f"changed since last check, {n_fresh} fresh.\n\n"
        f"{markdown_table(rows)}\n\n{COVERAGE_END}"
    )
    path = os.path.join(REPO, "COVERAGE.md")
    text = open(path).read()
    if COVERAGE_BEGIN in text and COVERAGE_END in text:
        pre = text.split(COVERAGE_BEGIN)[0]
        post = text.split(COVERAGE_END, 1)[1]
        text = pre + block + post
    else:
        text = text.rstrip() + "\n\n\n" + block + "\n"
    open(path, "w").write(text)
    print(f"COVERAGE.md dashboard: {len(rows)} gates "
          f"({n_never} never, {n_changed} changed-stale)")


def _front_list() -> list[str]:
    """Optional force-include list (r13 verdict task #2 / advisor):
    'Force-include all gates touched by an optimization round into
    that round's driver correctness sample instead of relying solely
    on stalest-first rotation.' The module-granular 'changed' flag
    cannot express this — a shared-module edit (tokens_col lives in
    dedup.py) marks ~half the inventory changed, so the handful of
    genuinely-rewritten gates still drown behind the staleness
    backlog (r13's window missed mmr/pagerank/lsh/prf for exactly
    this reason). ``tools/gate_front.json`` therefore lists the
    gates an optimization round directly touched (checked in with
    the round's commits, auditable against OPTIMIZATION_r*.md);
    --write splices them, in their analyze() relative order, at the
    head of the emitted order. Unknown names are rejected so a stale
    list fails loudly."""
    path = os.path.join(REPO, "tools", "gate_front.json")
    if not os.path.exists(path):
        return []
    data = json.load(open(path))
    return list(data.get("front", []))


def main() -> None:
    rows = analyze()
    order = [r["gate"] for r in rows]
    front = _front_list()
    if front:
        unknown = sorted(set(front) - set(order))
        assert not unknown, f"gate_front.json names unknown gates: {unknown}"
        fset = set(front)
        order = [g for g in order if g in fset] + [
            g for g in order if g not in fset
        ]
    n_never = sum(r["last_round"] is None for r in rows)
    n_changed = sum(r["changed"] and r["last_round"] is not None
                    for r in rows)
    if "--write" in sys.argv:
        head = _git("rev-parse", "HEAD").strip()
        # as_of_round: the newest driver CORRECTNESS round visible at
        # generation time. The freshness guard evaluates its invariant
        # as-of this round, so the order stays valid when the driver
        # lands CORRECTNESS_r{N+1}.json AFTER the round's final commit
        # (the r09 handoff failure mode) — but goes red if TWO driver
        # rounds land without a regen (round-10 verdict task #2).
        as_of = max(
            (int(m.group(1)) for fn in os.listdir(REPO)
             if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", fn))),
            default=0,
        )
        with open(os.path.join(REPO, "tools", "gate_order.json"), "w") as fh:
            json.dump(
                {"generated_from": head, "as_of_round": as_of,
                 "order": order},
                fh, indent=0,
            )
        print(f"gate_order.json: {len(order)} gates "
              f"({n_never} never-checked, {n_changed} changed-stale)")
    if "--markdown" in sys.argv:
        print(markdown_table(rows))
    if "--coverage" in sys.argv:
        rewrite_coverage(rows)
    if not ({"--write", "--markdown", "--coverage"} & set(sys.argv)):
        for r in rows[:60]:
            print(f"{r['gate']:40s} last={r['last_round']} "
                  f"changed={r['changed']} {r['reason']}")
        print(f"... {len(rows)} total; {n_never} never, "
              f"{n_changed} changed-stale")


if __name__ == "__main__":
    main()
