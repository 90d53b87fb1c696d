"""Reference-shaped CLI (``python -m propagon_spark graph <algo>``).

Drives ``cli.run`` with the session fixture injected. The page-rank
test replays the reference CLI's own golden e2e
(``crates/propagon-cli/tests/golden.rs:169-173``): same command shape,
same corpus, same 1e-5 tier-T tolerance — but through THIS engine's
CLI surface (reader → canon → kernel → emit).
"""

from __future__ import annotations

import io
import os

import pytest

from propagon_spark.cli import run

BASEBALL = "/root/reference/examples/tournament/baseball.2018.edges"
GOLDEN = "/root/reference/crates/propagon-cli/tests/golden/page-rank.out"
BIRANK_GOLDEN = os.path.join(os.path.dirname(GOLDEN), "birank.out")


def _needs(*paths):
    """Golden comparisons run only where the reference corpus exists."""
    return pytest.mark.skipif(
        not all(map(os.path.exists, paths)),
        reason="reference corpus not available",
    )


def _parse_scores(text: str) -> dict[str, float]:
    out = {}
    for line in text.splitlines():
        if not line.strip():
            continue
        name, score = line.split(": ")
        out[name] = float(score)
    return out


@_needs(BASEBALL, GOLDEN)
def test_cli_pagerank_matches_reference_golden(spark, capsys):
    buf = io.StringIO()
    rc = run(["graph", "page-rank", "--matches", BASEBALL], spark=spark, out=buf)
    assert rc == 0
    got = _parse_scores(buf.getvalue())
    with open(GOLDEN) as f:
        want = _parse_scores(f.read())
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-5), k
    # stdout ordering: score desc, name asc (traits.rs:63-67)
    lines = [ln for ln in buf.getvalue().splitlines() if ln.strip()]
    scores = [float(ln.split(": ")[1]) for ln in lines]
    assert scores == sorted(scores, reverse=True)


def test_cli_degree_and_formats(spark, tmp_path, tournament):
    corpus, wins = tournament
    buf = io.StringIO()
    rc = run(["graph", "degree", "--direction", "out", corpus],
             spark=spark, out=buf)
    assert rc == 0
    got = _parse_scores(buf.getvalue())
    # rows are 'winner loser 1', so out-strength = wins
    assert got == wins

    # jsonl format: header line + one model line per entity
    import json

    buf = io.StringIO()
    state = str(tmp_path / "deg.jsonl")
    rc = run(["graph", "degree", "--direction", "out", corpus,
              "--format", "jsonl", "--save-state", state],
             spark=spark, out=buf)
    assert rc == 0
    lines = buf.getvalue().splitlines()
    head = json.loads(lines[0])
    assert head["kind"] == "model" and head["entities"] == 30
    assert len(lines) == 31
    # saved state loads back through the library reader
    from propagon_spark.state import load_model_jsonl

    head2, loaded = load_model_jsonl(spark, state, algorithm="degree")
    assert head2["algorithm"] == "degree" and loaded.count() == 30


def test_cli_hits_two_section_and_components(spark, tmp_path, tournament):
    buf = io.StringIO()
    rc = run(["graph", "hits", "--iterations", "5", tournament[0]],
             spark=spark, out=buf)
    assert rc == 0
    sections = buf.getvalue().split("\n\n")
    assert len(sections) == 2  # authorities, then hubs (emit.rs:88-100)
    assert len(_parse_scores(sections[0])) == 30

    edges = tmp_path / "two_comp.edges"
    edges.write_text("a b 1\nb c 1\nx y 2\n")
    buf = io.StringIO()
    rc = run(["graph", "components", str(edges)], spark=spark, out=buf)
    assert rc == 0
    memb = {}
    for ln in buf.getvalue().splitlines():
        name, comp = ln.split(": ")
        memb.setdefault(comp, set()).add(name)
    assert sorted(map(sorted, memb.values())) == [["a", "b", "c"], ["x", "y"]]

    # --output PREFIX writes each component's edges, largest first
    prefix = str(tmp_path / "comp")
    rc = run(["graph", "components", str(edges), "--output", prefix],
             spark=spark, out=io.StringIO())
    assert rc == 0
    c0 = (tmp_path / "comp.0").read_text().strip().splitlines()
    c1 = (tmp_path / "comp.1").read_text().strip().splitlines()
    assert len(c0) == 2 and len(c1) == 1  # a-b-c edges first, then x-y


def test_cli_pagerank_save_then_warm_load(spark, tmp_path):
    # two-period CLI flow: fit + --save-state, then --load-state warm
    # refit (the reference's save/load two-period contract,
    # golden.rs:214-252): the warm run converges to the same fixpoint
    state = str(tmp_path / "pr.jsonl")
    edges = tmp_path / "warm.edges"
    edges.write_text("a b 1\nb c 1\nc a 1\na c 1\nb a 1\nd a 1\n")
    cold = io.StringIO()
    rc = run(["graph", "page-rank", "--sink-dispersion", "uniform",
              "--tolerance", "1e-8", str(edges), "--save-state", state],
             spark=spark, out=cold)
    assert rc == 0
    warm = io.StringIO()
    rc = run(["graph", "page-rank", "--sink-dispersion", "uniform",
              "--tolerance", "1e-8", str(edges), "--load-state", state],
             spark=spark, out=warm)
    assert rc == 0
    c, w = _parse_scores(cold.getvalue()), _parse_scores(warm.getvalue())
    assert c.keys() == w.keys()
    for k in c:
        assert w[k] == pytest.approx(c[k], abs=1e-6)


def _spearman(a: dict, b: dict) -> float:
    """Spearman rho with tie-averaged ranks (golden.rs tier S)."""
    import numpy as np

    keys = sorted(a)
    assert sorted(b) == keys

    def ranks(vals):
        v = np.asarray(vals, dtype=float)
        order = np.argsort(-v, kind="stable")
        r = np.empty(len(v))
        r[order] = np.arange(1, len(v) + 1)
        # average ranks over exact ties
        for x in np.unique(v):
            m = v == x
            r[m] = r[m].mean()
        return r

    ra = ranks([a[k] for k in keys])
    rb = ranks([b[k] for k in keys])
    return float(np.corrcoef(ra, rb)[0, 1])


@_needs(BASEBALL, BIRANK_GOLDEN)
def test_cli_birank_golden_spearman(spark):
    # the reference's own tier-S golden for RNG-divergent algos
    # (golden.rs:176-212): section-wise Spearman >= 0.95 vs birank.out
    buf = io.StringIO()
    rc = run(["graph", "birank", BASEBALL], spark=spark, out=buf)
    assert rc == 0
    got_lines = [ln for ln in buf.getvalue().splitlines() if ": " in ln]
    with open(BIRANK_GOLDEN) as f:
        want_lines = [ln for ln in f.read().splitlines() if ": " in ln]
    assert len(got_lines) == len(want_lines) == 60
    mid_g, mid_w = len(got_lines) // 2, len(want_lines) // 2
    got_u = _parse_scores("\n".join(got_lines[:mid_g]))
    got_p = _parse_scores("\n".join(got_lines[mid_g:]))
    want_u = _parse_scores("\n".join(want_lines[:mid_w]))
    want_p = _parse_scores("\n".join(want_lines[mid_w:]))
    rho_u = _spearman(got_u, want_u)
    rho_p = _spearman(got_p, want_p)
    assert rho_u >= 0.95, f"birank u-side spearman {rho_u}"
    assert rho_p >= 0.95, f"birank p-side spearman {rho_p}"


def test_cli_bootstrap_intervals(spark, tournament):
    buf = io.StringIO()
    rc = run(["graph", "degree", tournament[0], "--bootstrap", "4"],
             spark=spark, out=buf)
    assert rc == 0
    lines = [ln for ln in buf.getvalue().splitlines() if ln.strip()]
    assert len(lines) == 30
    assert "[" in lines[0] and "rank [" in lines[0]


def test_installed_console_script_end_to_end(tournament):
    # packaging smoke (pyproject.toml [project.scripts]): the
    # `propagon-spark` entry point — its own process, its own Spark
    # session — reproduces team degree on the generated corpus. When the
    # package isn't pip-installed (a source checkout), the entry point's
    # `module:function` target is read from pyproject.toml and run the
    # way the installed script would run it.
    import shutil
    import subprocess
    import sys
    import tomllib

    env = dict(os.environ, PROPAGON_SPARK_MASTER="local[2]")
    exe = shutil.which("propagon-spark")
    if exe is not None:
        cmd = [exe]
    else:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "pyproject.toml"), "rb") as f:
            target = tomllib.load(f)["project"]["scripts"]["propagon-spark"]
        module, func = target.split(":")
        cmd = [
            sys.executable, "-c",
            f"import sys; from {module} import {func}; sys.exit({func}())",
        ]
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p
        )
    out = subprocess.run(
        [*cmd, "graph", "degree", tournament[0], "--direction", "out"],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # edges are winner->loser, so OUT-degree = wins
    assert _parse_scores(out.stdout) == tournament[1]
