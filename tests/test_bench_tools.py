"""The bench tooling: the round gate's A/B step (touched-query mapping
from the diff and the judge of an ``ab.py`` record), ``tools/ab.py``'s
verdict rule and arm isolation, and gen_scaledata's label guard."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool(name):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    return __import__(name)


def test_round_gate_rejects_unknown_skip_flags():
    """A typo like --skip-benchh must error out, not silently run the
    10-minute gate it meant to skip; the retired compare gate is unknown
    too, and the ab gate refuses to start without its base ref."""
    tool = os.path.join(REPO, "tools", "round_gate.py")
    for bad in ("--skip-benchh", "--skip-compare"):
        r = subprocess.run([sys.executable, tool, bad],
                           capture_output=True, text=True)
        assert r.returncode == 2 and "unknown gate" in r.stdout
    r2 = subprocess.run([sys.executable, tool, "--oops"],
                        capture_output=True, text=True)
    assert r2.returncode == 2 and "unknown argument" in r2.stdout
    r3 = subprocess.run([sys.executable, tool, "--wait-healthy"],
                        capture_output=True, text=True)
    assert r3.returncode == 2 and "unknown argument" in r3.stdout
    r4 = subprocess.run([sys.executable, tool, "--skip-bench"],
                        capture_output=True, text=True)
    assert r4.returncode == 2 and "--base" in r4.stdout


_SEGMENT = '''"""A segment module.

Its docstring spans lines.
"""


def _helper(x):
    return x + 1


@query(
    "first_query",
    oracle="SELECT 1",
)
def _first(spark, sf_dir):
    a = 1
    return a


@query("second_query")
def _second(spark, sf_dir):
    b = 2
    c = 3
    return b + c
'''


def test_touched_queries_maps_hunks_to_registered_names(tmp_path):
    """A hunk inside one @query function maps to its registered name
    (added or changed lines matched in the tree, deleted ones at the
    base); a hunk in the module docstring or a helper maps to no name."""
    round_gate = _tool("round_gate")
    seg = tmp_path / round_gate.QUERIES_DIR / "segment.py"
    seg.parent.mkdir(parents=True)
    seg.write_text(_SEGMENT)

    def git(*args):
        subprocess.run(["git", "-C", str(tmp_path), "-c", "user.name=t",
                        "-c", "user.email=t@t", *args],
                       check=True, capture_output=True)

    git("init", "-q")
    git("add", "-A")
    git("commit", "-qm", "base")

    def touched(text):
        seg.write_text(text)
        return round_gate.touched_queries("HEAD", repo=str(tmp_path))

    assert touched(_SEGMENT) == set()
    assert touched(_SEGMENT.replace("a = 1", "a = 10")) == {"first_query"}
    assert touched(_SEGMENT.replace('oracle="SELECT 1"',
                                    'oracle="SELECT 2"')) == {"first_query"}
    assert touched(_SEGMENT.replace("    c = 3\n", "")) == {"second_query"}
    assert touched(_SEGMENT.replace("spans lines", "spans two lines")
                   .replace("x + 1", "x + 2")) == set()


_LIBRARY = '''"""A library module."""


def _inner(x):
    return x + 1


def outer(x):
    return _inner(x) * 2


def other(x):
    return x - 1
'''

_CALLERS = '''from quantum_rag_data_pipeline_spark.operators import lib as ops


@query("uses_outer")
def _a(spark, sf_dir):
    return ops.outer(1)


@query("uses_other")
def _b(spark, sf_dir):
    from quantum_rag_data_pipeline_spark.operators.lib import other

    return other(1)
'''


def test_touched_queries_maps_library_hunks_to_their_callers(tmp_path):
    """A hunk in a top-level library function marks every @query that
    loads it, directly or through another library function (an attribute
    or a from-import counts); a deleted function marks its callers too,
    and a hunk outside any function marks none."""
    round_gate = _tool("round_gate")
    lib = tmp_path / round_gate.PKG / "operators" / "lib.py"
    seg = tmp_path / round_gate.QUERIES_DIR / "segment.py"
    for path, text in ((lib, _LIBRARY), (seg, _CALLERS)):
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)

    def git(*args):
        subprocess.run(["git", "-C", str(tmp_path), "-c", "user.name=t",
                        "-c", "user.email=t@t", *args],
                       check=True, capture_output=True)

    git("init", "-q")
    git("add", "-A")
    git("commit", "-qm", "base")

    def touched(text):
        lib.write_text(text)
        return round_gate.touched_queries("HEAD", repo=str(tmp_path))

    assert touched(_LIBRARY) == set()
    assert touched(_LIBRARY.replace("x + 1", "x + 2")) == {"uses_outer"}
    assert touched(_LIBRARY.replace("x - 1", "x - 2")) == {"uses_other"}
    assert touched(_LIBRARY.replace("def other(x):\n    return x - 1\n", "")) == {"uses_other"}
    assert touched(_LIBRARY.replace("A library", "One library")) == set()


def _child(t, hash_="h"):
    """One child's record of a query whose fastest of three runs took t s."""
    runs = [{"build_s": 0.1, "exec_s": x - 0.1, "build_py4j": 10} for x in (t + 0.3, t, t + 0.1)]
    return {"runs": runs, "hash": hash_, "rows": 1, "jobs": 1, "stages": 1,
            "tasks": 4, "plan": {"Scan parquet": 1}, "final_plan": {"Scan parquet": 1}}


def _record(slow=None, factor=2.0, hashes=("h", "h")):
    """A 10-pair ab record over q_a and q_b, each run 2 s with up to 5 %
    noise; the B arm of ``slow`` is ``factor`` times slower."""
    ab = _tool("ab")
    noise = [-0.1, 0.0, 0.1, -0.05, 0.05]
    pairs = []
    for i in range(10):
        pair = {"order": list("AB" if i % 2 == 0 else "BA")}
        for s in "AB":
            pair[s] = {"queries": {
                n: _child((2.0 + noise[(i + 2 * k + (s == "B")) % 5])
                          * (factor if s == "B" and n == slow else 1.0),
                          hashes[s == "B"])
                for k, n in enumerate(("q_a", "q_b"))}}
        pairs.append(pair)
    return {"queries": {n: ab.summarize(pairs, n) for n in ("q_a", "q_b")}}


def test_gate_judge_fails_a_planted_slowdown_and_passes_noise():
    """The round gate's ab judge on synthetic ab records: a 2x slowdown
    of one of two queries fails and names that query only; noise alone
    passes; a result-hash mismatch and a child error fail."""
    judge = _tool("round_gate").judge
    assert judge(_record()) == []
    failures = judge(_record(slow="q_b"))
    assert len(failures) == 1 and failures[0].startswith("q_b: B slower")
    assert judge(_record(slow="q_a", factor=0.5)) == []  # faster passes
    failures = judge(_record(hashes=("h", "x")))
    assert sorted(f.split(":")[0] for f in failures) == ["q_a", "q_b"]
    assert all("hashes differ" in f for f in failures)
    rec = _record()
    rec["queries"]["q_a"]["errors"] = ["pair 3 B: KeyError: 'q_a'"]
    assert judge(rec) == ["q_a: error pair 3 B: KeyError: 'q_a'"]


def test_gen_scaledata_rejects_label_colliding_tiles():
    """--tiles 15 would derive the same sf1fresh* labels as tiles=10 and
    silently overwrite the canonical 10x controls — must be rejected."""
    tool = os.path.join(REPO, "tools", "gen_scaledata.py")
    r = subprocess.run([sys.executable, tool, "--fresh-events",
                        "--tiles", "15"], capture_output=True, text=True)
    assert r.returncode != 0 and "multiple of 10" in (r.stdout + r.stderr)



def test_ab_verdict_rule():
    """tools/ab.py's verdict: a side is faster only with >= 9/10 pair
    wins AND a median gap wider than A's inter-quartile distance; ties
    count for neither side."""
    verdict = _tool("ab").verdict
    a = [1.00, 1.02, 1.04, 1.06, 1.08, 1.10, 1.12, 1.14, 1.16, 1.18]  # IQR 0.09
    # B wins 9 of 10, medians 1.09 vs 0.79
    b9 = [x - 0.3 for x in a[:9]] + [a[9] + 0.1]
    r = verdict(a, b9)
    assert (r["b_wins"], r["a_wins"], r["verdict"]) == (9, 1, "B faster")
    # B wins 8: not enough pairs, however large the gap
    b8 = [x - 0.3 for x in a[:8]] + [x + 0.1 for x in a[8:]]
    assert verdict(a, b8)["verdict"] == "unresolved"
    # B wins all 10 but by less than A's IQR
    r = verdict(a, [x - 0.05 for x in a])
    assert (r["b_wins"], r["verdict"]) == (10, "unresolved")
    # a tied pair counts for neither side: 9 wins + 1 tie is still 9/10
    tie = [x - 0.3 for x in a[:9]] + [a[9]]
    r = verdict(a, tie)
    assert (r["b_wins"], r["a_wins"], r["verdict"]) == (9, 0, "B faster")
    # ...and 8 wins + 2 ties is not enough
    r = verdict(a, [x - 0.3 for x in a[:8]] + a[8:])
    assert (r["b_wins"], r["a_wins"], r["verdict"]) == (8, 0, "unresolved")
    # the mirror: A wins 9 and B's median is above A's by more than the IQR
    r = verdict(a, [x + 0.3 for x in a[:9]] + [a[9] - 0.1])
    assert (r["a_wins"], r["verdict"]) == (9, "B slower")


def test_ab_parent_imports_no_engine_package():
    """ab.py's parent process times children only: with the children
    and the era probe stubbed, a run leaves no engine module imported."""
    code = (f"import sys; sys.path.insert(0, {os.path.join(REPO, 'tools')!r}); import ab; "
            "ab.era_probe = dict; "
            "ab._run_child = lambda root, arm, names: "
            "{'queries': {n: {'error': 'stub'} for n in names}}; "
            "ab.main(['.', '.', 'q', '--pairs', '1']); "
            "print(sorted(m for m in sys.modules if m.startswith('quantum_rag')))")
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       env={**os.environ, "SPARK_GRAFT_SF_DIR": "unused"}, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip().splitlines()[-1] == "[]"


def test_tools_find_the_package_from_their_own_file():
    """No tool puts a fixed checkout on ``sys.path`` or names this
    checkout's absolute path: run from a clone or worktree, a gate must
    import the package under test, not another copy."""
    import ast

    tools = os.path.join(REPO, "tools")
    hits = []
    for name in sorted(os.listdir(tools)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(tools, name)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and REPO in node.value):
                hits.append(f"{name}:{node.lineno} names {node.value!r}")
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("insert", "append")
                    and ast.unparse(node.func.value) == "sys.path"
                    and isinstance(node.args[-1], ast.Constant)):
                hits.append(f"{name}:{node.lineno} puts {node.args[-1].value!r} on sys.path")
    assert not hits, hits


def test_ab_arms_are_isolated(sf_dir):
    """Two pairs of `ab.py HEAD .+spark.sql.shuffle.partitions=3`: order
    alternates, the HEAD child imports the package from its temporary
    worktree and the `.` child from the repo, the conf reaches only its
    arm, every timed build records its py4j round trips, each arm
    records the operators of its final adaptive plan apart from its
    initial plan, the result hashes match, and no worktree outlives the
    run."""
    def worktrees():
        return subprocess.run(["git", "-C", REPO, "worktree", "list", "--porcelain"],
                              capture_output=True, text=True, check=True).stdout

    before = worktrees()
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "ab.py"), "HEAD",
         ".+spark.sql.shuffle.partitions=3", "j2_join_agg", "--pairs", "2"],
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
        capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-2000:]
    rec = json.loads(r.stdout.strip().splitlines()[-1])
    assert worktrees() == before
    assert [p["order"] for p in rec["pairs"]] == [["A", "B"], ["B", "A"]]
    head_root = rec["roots"]["A"]
    assert not os.path.exists(head_root)
    assert os.path.commonpath([head_root, REPO]) != REPO
    for p in rec["pairs"]:
        assert p["A"]["package"] == os.path.join(head_root, "quantum_rag_data_pipeline_spark")
        assert p["B"]["package"] == os.path.join(REPO, "quantum_rag_data_pipeline_spark")
        assert p["A"]["conf"] == {}
        assert p["B"]["conf"] == {"spark.sql.shuffle.partitions": "3"}
        assert set(p["era"]) >= {"fault_gbps", "cpu_gflops", "disk_wgbps"}
        assert all(r["build_py4j"] > 0 for s in "AB" for r in p[s]["queries"]["j2_join_agg"]["runs"])
        for s in "AB":
            rec_s = p[s]["queries"]["j2_join_agg"]
            # query stages exist only once adaptive execution has run
            assert not any(op.endswith("QueryStage") for op in rec_s["plan"])
            assert rec_s["final_plan"].get("ShuffleQueryStage", 0) >= 1
            assert rec_s["final_plan"]["Scan parquet"] == rec_s["plan"]["Scan parquet"]
    q = rec["queries"]["j2_join_agg"]
    assert q["errors"] == [] and q["hash_match"] is True
    assert q["pairs"] == 2 and q["verdict"] in {"B faster", "B slower", "unresolved"}
    assert isinstance(q["final_plan_diff"], dict)
