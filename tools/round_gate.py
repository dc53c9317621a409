"""One-command round gate: every per-round check in one exit code.

    python tools/round_gate.py --base REF [QUERY...]
    python tools/round_gate.py --base REF --skip-bench   # skip the ~4 min bench
    python tools/round_gate.py --skip-ab --skip-pytest   # no base ref needed

``REF`` is the round's base commit. The ``ab`` gate A/B-times the
queries the round touched against it, with ``$SPARK_GRAFT_SF_DIR`` as
the scale-factor directory (required unless ``ab`` is skipped). A touched
query is a ``@query`` function whose lines the ``git diff -U0 REF`` of
``quantum_rag_data_pipeline_spark/queries/`` adds, changes or deletes
(see ``touched_queries``); the ``QUERY`` names are added to that set.

Runs, in this order (fail-fast OFF — all gates always run so one broken
gate doesn't hide another; exit code is nonzero if ANY failed):

1. bench.py                               (full sf0.1 bench -> BENCH_FULL)
2. tools/ab.py REF . <touched queries>    (interleaved A/B, see ``judge``)
3. pytest tests/ -q                       (full suite)
4. tools/oracle_check.py sf0.01           (327-query DuckDB oracle sweep)
5. tools/verify_ledger.py --check         (rotation audit)
6. tools/explain_audit.py                 (plan-shape audit, 0 flags)
7. tools/replication_coverage.py          (0 unreplicated)

The timing gates run FIRST so they see the quietest VM the gate can
offer (fresh JVM, no residual load): run after ~25 min of pytest+oracle
saturation, the bench read three sub-second queries at 1.2-3.5 s that
all re-measured clean on a quiet VM.

This module imports nothing from the engine package: the touched
queries come from the source text, and ``ab.py`` runs each arm's
package in a child process of its own.
"""

from __future__ import annotations

import ast
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PY = sys.executable
QUERIES_DIR = "quantum_rag_data_pipeline_spark/queries/"
_HUNK = re.compile(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@", re.M)


def query_spans(source: str) -> list[tuple[int, int, str]]:
    """``(first, last, name)`` line spans of the ``@query("name", ...)``
    functions in a module's source, decorators included."""
    spans = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for dec in node.decorator_list:
            if (isinstance(dec, ast.Call) and getattr(dec.func, "id", "") == "query"
                    and dec.args and isinstance(dec.args[0], ast.Constant)):
                spans.append((node.decorator_list[0].lineno, node.end_lineno,
                              dec.args[0].value))
    return spans


def hunk_lines(diff: str) -> tuple[set[int], set[int]]:
    """The lines a ``-U0`` diff of one file touches: the old side's
    removed lines and the new side's added lines."""
    old, new = set(), set()
    for m in _HUNK.finditer(diff):
        a, b, c, d = (int(x) if x is not None else 1 for x in m.groups())
        old.update(range(a, a + b))
        new.update(range(c, c + d))
    return old, new


def names_at(source: str, lines: set[int]) -> set[str]:
    return {name for first, last, name in query_spans(source)
            if any(first <= ln <= last for ln in lines)}


def touched_queries(base: str, repo: str = REPO) -> set[str]:
    """Registered names of the ``@query`` functions whose lines the
    working tree adds, changes or deletes relative to ``base``: the new
    side of each hunk is matched against the file as it is, the old side
    against the file at ``base``."""
    def git(*args):
        return subprocess.run(["git", "-C", repo, *args], capture_output=True,
                              text=True, check=True).stdout

    names = set()
    for path in git("diff", "--name-only", base, "--", QUERIES_DIR).split():
        if not path.endswith(".py"):
            continue
        old, new = hunk_lines(git("diff", "-U0", base, "--", path))
        full = os.path.join(repo, path)
        if new and os.path.exists(full):
            with open(full) as f:
                names |= names_at(f.read(), new)
        if old:
            names |= names_at(git("show", f"{base}:{path}"), old)
    return names


def judge(record: dict) -> list[str]:
    """The failures in an ``ab.py`` record, one line each: a query whose
    ``ab.verdict`` is "B slower", whose arms' result hashes differ, or
    whose children reported an error. An empty list passes."""
    failures = []
    for name, q in record["queries"].items():
        for e in q["errors"]:
            failures.append(f"{name}: error {e}")
        if q["verdict"] == "B slower":
            failures.append(f"{name}: B slower (median {q['a_median']} -> "
                            f"{q['b_median']} s, A won {q['a_wins']}/{q['pairs']})")
        if q.get("hash_match") is False:
            failures.append(f"{name}: result hashes differ")
    return failures


def ab_gate(base: str, extra: list[str]) -> int:
    names = sorted(touched_queries(base) | set(extra))
    print(f"ab: base {base}, queries {names or 'none'}")
    if not names:
        return 0
    p = subprocess.run([PY, "tools/ab.py", base, ".", *names], cwd=REPO,
                       capture_output=True, text=True)
    try:
        record = json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        print((p.stdout + "\n" + p.stderr).strip()[-2000:])
        return p.returncode or 1
    for name, q in record["queries"].items():
        print(f"ab: {name}: {q['verdict']} (medians {q.get('a_median')} -> "
              f"{q.get('b_median')} s, B won {q.get('b_wins')}/{q.get('pairs')})")
    failures = judge(record)
    for line in failures:
        print(f"ab: FAIL {line}")
    return 1 if failures else 0


def main(argv: list[str] | None = None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    base = None
    if "--base" in args:
        i = args.index("--base")
        if i + 1 >= len(args):
            print("round_gate: --base needs a git ref")
            return 2
        base = args[i + 1]
        del args[i:i + 2]
    gates: list[tuple[str, list[str] | None]] = [
        ("bench", [PY, "bench.py"]),
        ("ab", None),  # ab_gate
        ("pytest", [PY, "-m", "pytest", "tests/", "-q"]),
        ("oracle", [PY, "tools/oracle_check.py", "/root/testdata/sf0.01"]),
        ("ledger", [PY, "tools/verify_ledger.py", "--check"]),
        ("explain", [PY, "tools/explain_audit.py"]),
        ("replication", [PY, "tools/replication_coverage.py"]),
    ]
    names = {n for n, _ in gates}
    skip, queries = set(), []
    for a in args:
        if a.startswith("--skip-"):
            g = a.removeprefix("--skip-")
            if g not in names:  # a typo must not silently run a 10-min gate
                print(f"round_gate: unknown gate {g!r} (gates: {sorted(names)})")
                return 2
            skip.add(g)
        elif a.startswith("-"):
            print(f"round_gate: unknown argument {a!r}")
            return 2
        else:
            queries.append(a)
    if "ab" not in skip:
        if base is None:
            print("round_gate: the ab gate needs --base REF (the round's base commit)")
            return 2
        if subprocess.run(["git", "-C", REPO, "rev-parse", "--verify", "--quiet",
                           f"{base}^{{commit}}"], stdout=subprocess.DEVNULL).returncode:
            print(f"round_gate: {base!r} is not a commit")
            return 2
        if not os.environ.get("SPARK_GRAFT_SF_DIR"):
            print("round_gate: the ab gate needs SPARK_GRAFT_SF_DIR")
            return 2

    results: dict[str, int] = {}
    for name, cmd in gates:
        if name in skip:
            print(f"[skipped ] {name}")
            continue
        t0 = time.perf_counter()
        if cmd is None:
            rc, tail, detail = ab_gate(base, queries), "", []
        else:
            p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
            rc = p.returncode
            tail = (p.stdout.strip().splitlines() or [""])[-1][:160]
            # last 15 lines of whichever stream has the failure detail
            detail = (p.stdout + "\n" + p.stderr).strip().splitlines()[-15:]
        results[name] = rc
        status = "ok" if rc == 0 else f"FAIL rc={rc}"
        print(f"[{status:8s}] {name:12s} {time.perf_counter() - t0:7.1f}s  {tail}",
              flush=True)
        if rc != 0:
            for line in detail:
                print(f"    | {line}")

    failed = [n for n, rc in results.items() if rc != 0]
    print(f"round_gate: {len(results) - len(failed)}/{len(gates)} gates green"
          + (f"; SKIPPED: {sorted(skip)}" if skip else "")
          + (f"; FAILED: {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
