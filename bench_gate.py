"""Round-over-round regression gate for bench.py's timings.

bench.py times the catalog; this module decides what the timings mean
against the previous round's record:

- previous-record reading: the newest ``BENCH_r{N}.json`` driver
  envelope, with ``BENCH_LOCAL.json`` as the fallback and as the source
  of per-query maps the printed line dropped for byte budget;
- host normalization by the multi-core canary ratio (:func:`_host_ratio`);
- the compact printed line (:func:`_compact_record`);
- the worktree A/B control that re-times flagged entries with the
  previous round's code (:func:`ab_control`), and the AST code-identity
  check that clears a flag whose executed closure did not change.

It imports nothing from bench.py, so the dependency runs one way.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys

# Round-over-round regression gate: a query slower than the previous
# round's BENCH_r{N}.json by more than this fraction gets ONE extra timed
# trial (min-of-3); whatever still exceeds the threshold is reported in
# the "regressions" field so drift is visible instead of silently absorbed
# into the total. 25% sits above local[32] GC/page-cache noise for the
# sub-second entries (observed ±20% swings on unchanged plans in r4).
REGRESSION_PCT = 25.0

# History of the A/B trigger: wide flag storms are almost always the
# host, not the code (r5: 9/10 flags were contention; r7: 19 cleared on
# a quiet rerun; r9: 15 flags, and a manual `git worktree` A/B at the r8
# HEAD proved the container ~25% slower), so r10 automated the control
# at a storm threshold and r11 extended it to unchanged-module flags.
# Since r12 the retime is UNCONDITIONAL for every flag (see ab_control):
# the concurrent new-vs-old comparison is the decisive classifier and
# its cost is bounded below.
AB_MAX_ENTRIES = 20  # bound the A/B's cost on a pathological flag storm


def _host_ratio(now_canary, prev_canary) -> float:
    """Canary-based host-speed ratio used to normalize flag decisions.

    >1 means this box is slower than when the previous round's numbers
    were recorded, so every raw comparison is inflated by that factor;
    <1 means this box is FASTER and raw comparisons are deflated by it.
    SYMMETRIC since r12: the old slower-direction-only rule meant a round
    recorded on a slow box (r10: canary 1.288) granted every entry ~29%
    of free headroom the next round — a faster-host ratio now tightens
    the bar the same way a slower one loosens it. Canary microbenchmark
    noise on the tightened side is absorbed by REGRESSION_PCT and by the
    min-of-3 retime any fresh flag gets before it is reported. Clamped to
    [1/3, 3] — past that the envelope is not comparable at all and the
    unconditional A/B control is the trustworthy signal.
    """
    if (
        isinstance(now_canary, (int, float))
        and isinstance(prev_canary, (int, float))
        and prev_canary > 0
        and now_canary > 0
    ):
        return min(max(now_canary / prev_canary, 1.0 / 3.0), 3.0)
    return 1.0


# The driver's envelope captures only the last ~2000 bytes of stdout and
# parses the bench line out of that window: a line longer than the window
# loses its FRONT and the round records `parsed: null` (r11, when 16
# verbose flag rows pushed the line to ~4 kB). Conservative headroom for
# the trailing newline / any stray final output.
EMIT_BYTE_BUDGET = 1900


def _compact_record(result: dict, budget: int = EMIT_BYTE_BUDGET) -> dict:
    """The record actually PRINTED for the driver: the full per-query
    maps (they are the round's record) plus flag rows slimmed to the
    essentials, sized to stay under ``budget`` bytes when serialized with
    compact separators. Full detail (verbose rows, env_cleared bodies,
    A/B measurements, policy string) lives in BENCH_LOCAL.json; the line
    carries counts and a pointer instead.
    Degradation order when over budget: (1) drop regression rows off the
    tail (``regressions_n`` keeps the true count); (2) replace the sf1
    then sf10 per-query maps with their counts plus a detail pointer —
    BENCH_LOCAL.json keeps the full maps (sf1 before sf10 since r15:
    the smoke grew to the heavy entries because sf0.1/sf1 carry almost
    no optimization signal — every 8-vs-32-core ratio ~1 — so when one
    section must go, the envelope keeps the scale where round-over-round
    deltas measure algorithm shape; the gate recovers a dropped
    section's map from BENCH_LOCAL.json when the git_sha matches, see
    _prev_round_bench); (3) last resort, trim the
    primary queries map off its tail (``queries_dropped_n`` records how
    many). The line therefore ALWAYS fits: a growing bench catalog can
    no longer silently push it past the envelope (the r11 parsed:null
    failure mode, re-flagged as a runtime hole by r12 ADVICE)."""
    core_keys = (
        "metric", "value", "unit", "queries", "sf", "canary_mc_sec",
        "canary_ratio", "sf1", "sf10", "vs_round", "vs_source", "git_sha",
    )
    out = {k: result[k] for k in core_keys if k in result}

    def slim(row: dict) -> dict:
        keep = ("query", "scope", "prev_sec", "now_sec", "code_suspect")
        return {k: row[k] for k in keep if k in row}

    regs = [slim(r) for r in result.get("regressions", [])]
    out["regressions"] = regs
    out["regressions_n"] = len(result.get("regressions", []))
    out["env_cleared_n"] = len(result.get("env_cleared", []))
    if out["regressions_n"] or out["env_cleared_n"]:
        out["detail"] = "BENCH_LOCAL.json"

    def size(d: dict) -> int:
        return len(json.dumps(d, separators=(",", ":")))

    while regs and size(out) > budget:
        regs.pop()
    for section in ("sf1", "sf10"):
        sub = out.get(section)
        if size(out) <= budget or not isinstance(sub, dict):
            continue
        sub = dict(sub)
        dropped = sub.pop("queries", None)
        if isinstance(dropped, dict):
            sub["queries_n"] = len(dropped)
            sub["detail"] = "BENCH_LOCAL.json"
        out[section] = sub
    q = out.get("queries")
    if isinstance(q, dict) and size(out) > budget:
        names = list(q)
        out["queries_dropped_n"] = 0
        while names and size(out) > budget:
            q.pop(names.pop())
            out["queries_dropped_n"] += 1
    return out


def _payload_of(data: dict) -> dict | None:
    """Comparable bench payload from one round file's JSON, or None. The
    driver wraps the bench line in an envelope under "parsed"; a payload
    MUST carry a queries dict — r5's truncated envelope had a top-level
    "sf" but no "queries", and accepting it made the gate silently diff
    against {} (zero regressions, no error)."""
    if isinstance(data.get("parsed"), dict):
        data = data["parsed"]
    if isinstance(data.get("queries"), dict):
        return data
    return None


def _prev_round_bench(root: str) -> dict | None:
    """Most recent comparable bench payload: walk BENCH_r*.json from the
    newest round down, unwrapping the driver envelope. If the NEWEST
    round's file is unusable (a truncated envelope records ``parsed:
    null``), prefer BENCH_LOCAL.json — bench.py's own durable record of
    its last completed run (written at the end of main, so the driver's
    round-N run leaves it behind even when the round-N envelope
    truncates) — before dropping to an older round's envelope."""
    import glob

    rounds = []
    for path in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    rounds.sort(reverse=True)

    local = None
    try:
        with open(os.path.join(root, "BENCH_LOCAL.json"), encoding="utf-8") as fh:
            cand = json.load(fh)
        if isinstance(cand, dict) and isinstance(cand.get("queries"), dict):
            local = cand
    except (OSError, ValueError):
        pass

    def _restore_sections(payload: dict) -> dict:
        """Merge per-query maps the compact printed line dropped for
        byte budget (r15: the grown sf10 smoke forces one section out)
        back in from BENCH_LOCAL.json — valid only when both records
        come from the same code (git_sha match), since BENCH_LOCAL is
        overwritten by every local bench run. Only ``queries`` is
        merged: the envelope's own section fields (total_sec, gen_sec)
        are the round's record and stay."""
        if local is None or not payload.get("git_sha"):
            return payload
        if local.get("git_sha") != payload.get("git_sha"):
            return payload
        for sec in ("sf1", "sf10"):
            have = payload.get(sec)
            full = local.get(sec)
            if (
                isinstance(have, dict)
                and not isinstance(have.get("queries"), dict)
                and isinstance(full, dict)
                and isinstance(full.get("queries"), dict)
            ):
                payload[sec] = {**have, "queries": full["queries"]}
        return payload

    for n, path in rounds:
        try:
            with open(path, encoding="utf-8") as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            data = None
        payload = _payload_of(data) if isinstance(data, dict) else None
        if payload is not None:
            payload["_round"] = n
            return _restore_sections(payload)
        if local is not None:
            # the newest round's envelope is unusable; the local record
            # was written by that round's own bench run (or later), so it
            # is closer to "last round" than any older envelope
            local["_round"] = n
            local["_source"] = "local"
            return local
    if local is not None:
        local.setdefault("_round", None)
        local["_source"] = "local"
        return local
    return None


def _prev_code_ref(prev: dict | None) -> str | None:
    """Git ref for the code that produced the previous round's numbers:
    the payload's own ``git_sha`` (recorded since r10). A record without
    one gets no A/B, so its flags stay kept."""
    if not prev:
        return None
    sha = prev.get("git_sha")
    if isinstance(sha, str) and sha:
        return sha
    return None


def _ab_retime_old_code(root: str, ref: str, names_by_dir: dict) -> dict:
    """Re-time entries with the PREVIOUS round's code in a throwaway git
    worktree on this box (the r9 manual control, automated). Returns
    {"<sf_dir>::<name>": sec} via a subprocess so the old package imports
    cleanly; {} on any failure (the caller then keeps the raw flags)."""
    import subprocess
    import tempfile
    import uuid as _uuid

    wt = os.path.join(tempfile.gettempdir(), f"bench_ab_{_uuid.uuid4().hex}")
    runner = (
        "import json, sys, time\n"
        "names_by_dir = json.loads(sys.argv[1])\n"
        "sys.path.insert(0, '.')\n"
        "from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG\n"
        "from automotive_data_pipeline_demo_spark.session import get_spark\n"
        "spark = get_spark(app_name='bench_ab')\n"
        "by_name = {s.name: s for s in CATALOG}\n"
        "out = {}\n"
        "for d, names in names_by_dir.items():\n"
        "    for n in names:\n"
        "        spec = by_name.get(n)\n"
        "        if spec is None:\n"
        "            continue\n"
        "        best = float('inf')\n"
        # min-of-3: flagged entries' own timings are upgraded to min-of-3
        # before the A/B, so the control must sample equally or a lucky
        # new-side draw reads as a code regression at the threshold
        "        for _ in range(3):\n"
        "            spark.catalog.clearCache()\n"
        "            t0 = time.perf_counter()\n"
        "            spec.build(spark, d).write.format('noop')"
        ".mode('overwrite').save()\n"
        "            best = min(best, time.perf_counter() - t0)\n"
        "        out[d + '::' + n] = round(best, 3)\n"
        "print('ABJSON:' + json.dumps(out))\n"
        "spark.stop()\n"
    )
    try:
        subprocess.run(
            ["git", "worktree", "add", "--detach", wt, ref],
            cwd=root, capture_output=True, timeout=60, check=True,
        )
        res = subprocess.run(
            [sys.executable, "-c", runner, json.dumps(names_by_dir)],
            cwd=wt, capture_output=True, text=True, timeout=1800,
            env={**os.environ, "PYTHONPATH": wt},
        )
        for line in res.stdout.splitlines():
            if line.startswith("ABJSON:"):
                return json.loads(line[len("ABJSON:"):])
        return {}
    except (OSError, subprocess.SubprocessError, ValueError):
        return {}
    finally:
        import subprocess as _sp

        _sp.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=root, capture_output=True, timeout=60,
        )


def split_env_flags(regressions: list[dict], old_times: dict,
                    dir_of_scope: dict) -> tuple[list[dict], list[dict]]:
    """Classify surviving flags with the A/B's CONCURRENT control — the
    decisive instrument, since old and new code ran on the same box in
    the same session: a flag whose new-code time exceeds the old code's
    concurrent time by the regression threshold is code-attributable and
    stays kept with ``code_suspect: true`` (r11's rule cleared
    x_dedup_semdedup as "environment" while its own control read new
    4.27 s vs old-code-now 3.10 s, +38%); any other A/B'd flag clears —
    whether the old code is also slow vs its recording (true environment
    drift) or fine (the flag was manufactured by canary normalization
    noise: r12's single-thread canary read an idle boost-clocked box 23%
    "faster" while the multi-core suite total was byte-identical to the
    previous recording), the CODE is acquitted either way, and that is
    the gate's question. Returns (kept, env_cleared); flags with no A/B
    measurement are kept."""
    kept, cleared = [], []
    bar = 1 + REGRESSION_PCT / 100
    for row in regressions:
        key = f"{dir_of_scope.get(row['scope'], '')}::{row['query']}"
        old_now = old_times.get(key)
        if not isinstance(old_now, (int, float)):
            kept.append(row)
            continue
        row = {**row, "old_code_now_sec": old_now}
        if row["now_sec"] > old_now * bar:
            # concurrent control: new code slower than old code RIGHT NOW
            row["code_suspect"] = True
            kept.append(row)
        else:
            cleared.append(row)
    return kept, cleared


def _strip_docstrings(tree) -> None:
    """Drop the leading string constant from every module/class/function
    body in-place, so a docstring-only edit doesn't read as a code
    change in an AST compare."""
    import ast

    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(
                node,
                (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef,
                 ast.ClassDef),
            )
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            node.body = body[1:] or [ast.Pass()]


def _defining_dumps(src: str, name: str) -> list[str]:
    """``ast.dump`` of every statement in ``src`` that (re)binds ``name``
    at any nesting level: def/class by that name, assignments to it, and
    import bindings. Formatting/comments are invisible (AST compare);
    docstrings are stripped. Sorted so multi-definition modules compare
    as sets."""
    import ast

    tree = ast.parse(src)
    _strip_docstrings(tree)
    out = []
    for node in ast.walk(tree):
        hit = False
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            hit = node.name == name
        elif isinstance(node, ast.Assign):
            hit = any(
                isinstance(n, ast.Name) and n.id == name
                for t in node.targets
                for n in ast.walk(t)
            )
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            hit = (
                isinstance(node.target, ast.Name)
                and node.target.id == name
            )
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            hit = any(
                (a.asname or a.name.split(".")[0]) == name
                for a in node.names
            )
        if hit:
            out.append(ast.dump(node))
    return sorted(out)


def _closure_items(entry: str) -> set[tuple[str, str]] | None:
    """FUNCTION-GRAIN closure of a catalog entry: the set of
    ``(module_relpath, top_level_symbol)`` definitions the entry's
    builder can reach — the builder itself, every package function/class
    it references transitively (by global name or ``pkgmodule.attr``),
    and every module-level constant name it reads (from-import chains
    followed to the defining assignment). ``session.py`` rides along
    whole-file (``(rel, "")``): its spark-conf changes affect every
    entry's runtime without appearing in any builder closure.

    Returns None on any shape that can't be resolved statically —
    closure cells over plain values, partials, package modules used as
    first-class values, nested submodule attribute chains, unreadable
    source — and the caller falls back to module grain. Exists because
    module-grain marked every entry of a 1,800-line module "code
    changed" when r13 added two helpers to it (VERDICT r13)."""
    import ast
    import inspect
    import textwrap
    import types

    import automotive_data_pipeline_demo_spark as _pkg
    from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG

    root = os.path.dirname(os.path.abspath(__file__))
    pkg_name = _pkg.__name__
    prefix = pkg_name + "."

    spec = next((s for s in CATALOG if s.name == entry), None)
    if spec is None:
        return None

    def rel_of(mod) -> str | None:
        path = getattr(mod, "__file__", None)
        if not path:
            return None
        r = os.path.relpath(os.path.abspath(path), root)
        return None if r.startswith("..") else r

    def is_pkg_module(m) -> bool:
        n = getattr(m, "__name__", "")
        return isinstance(m, types.ModuleType) and (
            n == pkg_name or n.startswith(prefix)
        )

    def in_pkg(obj) -> bool:
        m = getattr(obj, "__module__", "") or ""
        return m == pkg_name or m.startswith(prefix)

    items: set[tuple[str, str]] = set()
    seen: set[int] = set()
    queue: list = [spec.build]

    def add_const(mod, nm, depth: int = 0) -> bool:
        """Record the defining assignment of constant ``nm`` visible in
        ``mod``, following from-import bindings to the origin module."""
        if depth > 5:
            return False
        r = rel_of(mod)
        if r is None:
            return False
        try:
            tree = ast.parse(inspect.getsource(mod))
        except Exception:
            return False
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and any(
                    isinstance(t, ast.Name) and t.id == nm
                    for t in node.targets
                )
            ) or (
                isinstance(node, ast.AnnAssign)
                and isinstance(node.target, ast.Name)
                and node.target.id == nm
            ):
                items.add((r, nm))
                return True
        for node in tree.body:
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if (a.asname or a.name) == nm:
                        items.add((r, nm))  # the import binding itself
                        modname = "." * node.level + (node.module or "")
                        try:
                            import importlib

                            origin = importlib.import_module(
                                modname, mod.__package__
                            )
                        except Exception:
                            return False
                        if is_pkg_module(origin):
                            return add_const(origin, a.name, depth + 1)
                        return True  # outside the repo: stable
        return False

    def enqueue_callable(v) -> bool:
        """Queue a function/class for traversal when it lives in the
        package; True unless the value is un-trackable."""
        if isinstance(v, (staticmethod, classmethod)):
            v = v.__func__
        if isinstance(v, functools.partial):
            return False  # bound args unverifiable across refs
        if isinstance(v, (types.FunctionType, type)):
            if in_pkg(v):
                queue.append(v)
            return True
        return True

    while queue:
        obj = queue.pop()
        if isinstance(obj, (staticmethod, classmethod)):
            obj = obj.__func__
        if id(obj) in seen:
            continue
        seen.add(id(obj))

        if isinstance(obj, type):
            mod = sys.modules.get(obj.__module__)
            if mod is None or not is_pkg_module(mod):
                continue
            r = rel_of(mod)
            if r is None:
                return None
            items.add((r, obj.__qualname__.split(".")[0]))
            for v in vars(obj).values():
                if isinstance(
                    v, (types.FunctionType, staticmethod, classmethod)
                ):
                    queue.append(v)
            continue
        if not isinstance(obj, types.FunctionType):
            return None
        mod = sys.modules.get(obj.__module__)
        if mod is None or not is_pkg_module(mod):
            continue  # outside the repo: treated as stable
        r = rel_of(mod)
        if r is None:
            return None
        # a nested def/lambda is covered by its top-level container
        items.add((r, obj.__qualname__.split(".")[0]))
        try:
            tree = ast.parse(textwrap.dedent(inspect.getsource(obj)))
        except Exception:
            return None
        if obj.__closure__:
            for cell in obj.__closure__:
                try:
                    cv = cell.cell_contents
                except ValueError:
                    return None
                if isinstance(
                    cv, (types.FunctionType, staticmethod, classmethod,
                         type),
                ):
                    queue.append(cv)
                elif not isinstance(cv, types.ModuleType):
                    # a plain value closed over from a factory call site
                    # we cannot attribute to a definition
                    return None
        g = obj.__globals__
        recv: set[int] = set()  # Name nodes that are attribute receivers
        mod_attrs: dict[str, set[str]] = {}
        names: list = []
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and isinstance(
                n.value, ast.Name
            ):
                recv.add(id(n.value))
                if is_pkg_module(g.get(n.value.id)):
                    mod_attrs.setdefault(n.value.id, set()).add(n.attr)
            elif isinstance(n, ast.Name):
                names.append(n)
        for n in names:
            nm = n.id
            if nm not in g:
                continue  # local or builtin
            if nm.startswith("__") and nm.endswith("__"):
                continue  # implicit module dunders (__name__, __file__)
            v = g[nm]
            if isinstance(
                v, (types.FunctionType, staticmethod, classmethod, type,
                    functools.partial),
            ):
                if not enqueue_callable(v):
                    return None
            elif is_pkg_module(v):
                if id(n) not in recv:
                    return None  # pkg module used as a value: dynamic
            elif isinstance(v, types.ModuleType):
                continue
            elif callable(v):
                if in_pkg(type(v)):
                    return None  # package callable instance: dynamic
            else:
                if not add_const(mod, nm):
                    return None
        for alias, attrs in mod_attrs.items():
            am = g.get(alias)
            for attr in attrs:
                if not hasattr(am, attr):
                    return None
                av = getattr(am, attr)
                if isinstance(
                    av, (types.FunctionType, staticmethod, classmethod,
                         type, functools.partial),
                ):
                    if not enqueue_callable(av):
                        return None
                elif isinstance(av, types.ModuleType):
                    if is_pkg_module(av):
                        return None  # nested submodule chain: untracked
                else:
                    if not add_const(am, attr):
                        return None

    # runtime-wide infrastructure every entry executes under
    try:
        from automotive_data_pipeline_demo_spark import session as _sess

        sess_rel = rel_of(_sess)
        if sess_rel:
            items.add((sess_rel, ""))
    except Exception:
        return None
    return items


def _git_blob(root: str, tree: str, rel: str) -> str | None:
    import subprocess

    try:
        p = subprocess.run(
            ["git", "show", f"{tree}:{rel}"],
            cwd=root, capture_output=True, timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return p.stdout.decode("utf-8", "replace") if p.returncode == 0 else None


def _items_unchanged(
    root: str, ref: str, items: set[tuple[str, str]]
) -> bool | None:
    """Compare each ``(relpath, symbol)`` definition between ``ref`` and
    HEAD. ``symbol == ""`` means whole-file. True = every definition
    AST-identical; False = a definition differs (or a file is missing in
    one tree); None = a definition can't be located (dynamic creation) —
    the caller should fall back to module grain."""
    for rel, name in sorted(items):
        a = _git_blob(root, ref, rel)
        b = _git_blob(root, "HEAD", rel)
        if a is None or b is None:
            return False
        if a == b:
            continue
        if not name:
            return False  # whole-file item differs
        try:
            da, db = _defining_dumps(a, name), _defining_dumps(b, name)
        except SyntaxError:
            return None
        if not da or not db:
            return None
        if da != db:
            return False
    return True


def _entry_code_unchanged(root: str, ref: str, name: str) -> bool:
    """FUNCTION-GRAIN: True when every definition the entry's builder
    executes — the builder, its transitive package callees/classes, the
    module-level constants it reads, plus session.py whole-file — is
    AST-identical between ``ref`` and HEAD. Module-grain (r12's rule,
    kept as :func:`_entry_module_unchanged`) marked all ~20 entries of a
    1,800-line module "code changed" when r13 added two helper functions
    to it, which let two box-noise flags stand as code_suspect (VERDICT
    r13 task 1). Any closure shape the static walk can't resolve falls
    back to module grain, which can only under-claim "unchanged"."""
    try:
        items = _closure_items(name)
    except Exception:
        items = None
    if items:
        res = _items_unchanged(root, ref, items)
        if res is not None:
            return res
    return _entry_module_unchanged(root, ref, name)


def _entry_module_unchanged(root: str, ref: str, name: str) -> bool:
    """MODULE-GRAIN fallback: True when the flagged entry's DEFINING
    MODULE — and every package module it imports from (one level: the
    objects in its namespace) — is byte-identical between ``ref`` and
    HEAD. Each path is verified to EXIST in both trees first
    (``git cat-file -e``): ``git diff --quiet`` exits 0 on a pathspec
    that matches nothing, which mis-reported untracked/out-of-tree
    modules as "unchanged" (r11 ADVICE). The one-level closure catches
    the r11 shape where an entry's own module was untouched but
    similarity.py on its hot path changed."""
    import inspect
    import subprocess
    import types

    try:
        import automotive_data_pipeline_demo_spark as _pkg
        from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG

        spec = next((s for s in CATALOG if s.name == name), None)
        if spec is None:
            return False
        mod = inspect.getmodule(spec.build)
        if mod is None:
            return False
        prefix = _pkg.__name__ + "."
        mods = {mod}
        for v in vars(mod).values():
            m = v if isinstance(v, types.ModuleType) else inspect.getmodule(v)
            if m is not None and getattr(m, "__name__", "").startswith(prefix):
                mods.add(m)
        for m in mods:
            path = getattr(m, "__file__", None)
            if not path:
                return False
            rel = os.path.relpath(os.path.abspath(path), root)
            if rel.startswith(".."):
                return False
            for tree in (ref, "HEAD"):
                if subprocess.run(
                    ["git", "cat-file", "-e", f"{tree}:{rel}"],
                    cwd=root, capture_output=True, timeout=30,
                ).returncode != 0:
                    return False
            if subprocess.run(
                ["git", "diff", "--quiet", ref, "HEAD", "--", rel],
                cwd=root, capture_output=True, timeout=30,
            ).returncode != 0:
                return False
        return True
    except Exception:
        return False


def ab_control(root: str, prev: dict | None, regressions: list[dict],
               dir_of_scope: dict,
               retime=_ab_retime_old_code,
               unchanged=_entry_code_unchanged) -> tuple[list[dict], list[dict]]:
    """Environment-vs-code control: EVERY flagged entry (bounded by
    AB_MAX_ENTRIES) is re-timed with the previous round's code on this
    box (git worktree) and classified by the concurrent new-vs-old
    comparison (:func:`split_env_flags`) — the decisive r9 manual
    control, automated in r10 and made unconditional in r12. Earlier
    rounds gated the retime on a flag storm or a
    byte-unchanged defining module, which left sub-storm flags on
    touched-DEPENDENCY modules un-adjudicated exactly when a round
    edits a shared module like similarity.py; the retime's fixed cost
    (~40 s session + min-of-3 per flagged entry) buys a definitive
    record every time. Each kept row is additionally annotated
    ``code_unchanged`` — FUNCTION grain since r14
    (:func:`_entry_code_unchanged`): the builder's transitive executed
    closure plus session.py, module grain only as fallback. A suspect
    whose executed closure is AST-identical to the old ref is CLEARED
    (``cleared_by: "identical_closure"``): identical code on both A/B
    sides cannot be a code regression, so the reading is noise — r13's
    two kept flags were exactly this shape, stranded because
    module-grain detection marked a 20-entry module "changed" over two
    added helpers.

    Returns (kept_flags, env_cleared_flags); flags without an A/B
    measurement always pass through kept."""
    if not regressions:
        return regressions, []
    ref = _prev_code_ref(prev)
    if ref is None:
        return regressions, []
    # Budget priority (r14): sf10-smoke flags first. The smoke is a
    # SINGLE cold run per entry (no min-of-2/3), so its readings are the
    # noisiest in the record AND the widest-bar gate — exactly the flags
    # that must not escape adjudication. In the r14 baseline a flag
    # storm (20 suite flags on a slow box) filled the cap and the one
    # sf10 flag passed through kept un-A/B'd as the 21st row; suite
    # flags are min-of-3 by the time they get here and lose less from
    # missing the cap.
    ordered = sorted(
        regressions, key=lambda r: 0 if r.get("scope") == "sf10" else 1
    )
    rows = ordered[:AB_MAX_ENTRIES]
    names_by_dir: dict[str, list[str]] = {}
    for row in rows:
        d = dir_of_scope.get(row["scope"])
        if d:
            names_by_dir.setdefault(d, []).append(row["query"])
    if not names_by_dir:
        return regressions, []
    old_times = retime(root, ref, names_by_dir)
    if not old_times:
        return regressions, []
    kept, cleared = split_env_flags(regressions, old_times, dir_of_scope)
    still_kept = []
    for row in kept:
        if "old_code_now_sec" not in row:
            still_kept.append(row)
            continue
        row["code_unchanged"] = unchanged(root, ref, row["query"])
        if row.get("code_suspect") and row["code_unchanged"]:
            # the executed closure (function grain, incl. session.py) is
            # AST-identical between the refs: the A/B literally ran the
            # same code on both sides, so a new>old reading is
            # measurement noise by construction, not a code regression —
            # the r13 shape where two box-noise flags stood unadjudicated
            row = {**row, "cleared_by": "identical_closure"}
            row.pop("code_suspect", None)
            cleared.append(row)
            continue
        still_kept.append(row)
    return still_kept, cleared
