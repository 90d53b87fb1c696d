"""Reference-shaped CLI: ``python -m propagon_spark graph <algo> edges.txt``.

Mirrors the reference CLI's graph group
(``/root/reference/crates/propagon-cli/src/main.rs:1092-1245`` command
tree, ``:2505-2669`` dispatch) so a reference user can run the same
commands against this engine:

- leaves: page-rank, degree, hits, katz-centrality (alias katz),
  leader-rank, k-core, birank, harmonic, components;
- flag names match (``--damping-factor``, ``--sink-dispersion``,
  ``--iterations``, ``--seeds`` / ``--seeds-file``, ``--matches``,
  ``--direction``, ``--min-graph-size``, ``--threads``, ``--format``,
  ``--save-state``, ``--bootstrap``);
- stdout is the reference's ``id: score`` tsv (``emit.rs:14-19``; hits
  and birank use the two-section form, ``emit.rs:88-100,157-169``) or
  ``--format jsonl`` (the model state-file form, one JSON line per
  entity after a header line);
- ``--threads N`` runs ``local[N]`` like the reference's dedicated
  rayon pool (``main.rs:1628-1636``).

The reference's Spark analogue of ``components`` writes each component
to ``<output>.<i>`` (``main.rs:2649-2669``) when ``--output`` is given,
else prints ``id: component`` membership.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _common(p: argparse.ArgumentParser, bootstrap: bool = True) -> None:
    p.add_argument("path", help="edge file: 'src dst [weight]' rows")
    p.add_argument("--threads", type=int, default=4,
                   help="local[N] parallelism (like the reference's "
                        "dedicated pool)")
    p.add_argument("--format", choices=("tsv", "jsonl"), default="tsv")
    p.add_argument("--save-state", metavar="PATH", default=None,
                   help="also write JSONL model state")
    if bootstrap:
        p.add_argument("--bootstrap", type=int, metavar="N", default=None,
                       help="N-replicate bootstrap: emit score/rank CIs "
                            "instead of a plain fit")
        p.add_argument("--seed", type=int, default=42)


def _build_parser() -> argparse.ArgumentParser:
    top = argparse.ArgumentParser(prog="propagon_spark")
    groups = top.add_subparsers(dest="group", required=True)
    graph = groups.add_parser("graph", help="graph algorithms")
    sub = graph.add_subparsers(dest="algo", required=True)

    pr = sub.add_parser("page-rank")
    pr.add_argument("--damping-factor", type=float, default=0.85)
    pr.add_argument("--iterations", type=int, default=10)
    pr.add_argument("--tolerance", type=float, default=None,
                    help="iterate to L1 delta < tol instead of a fixed "
                         "iteration count")
    pr.add_argument("--sink-dispersion", default="reverse",
                    choices=("reverse", "all", "uniform", "none"))
    pr.add_argument("--seeds", default=None,
                    help="comma-separated teleport seed names (weight 1)")
    pr.add_argument("--seeds-file", default=None,
                    help="seeds file: 'name [weight]' per line")
    pr.add_argument("--matches", action="store_true",
                    help="rows are 'winner loser': edge loser → winner")
    pr.add_argument("--load-state", metavar="PATH", default=None,
                    help="warm-start from saved JSONL model state "
                         "(fit_warm, traits.rs:107-118 / PRD FR-5)")
    _common(pr)

    dg = sub.add_parser("degree")
    dg.add_argument("--direction", default="in",
                    choices=("in", "out", "total"))
    _common(dg)

    ht = sub.add_parser("hits")
    ht.add_argument("--iterations", type=int, default=100)
    ht.add_argument("--tolerance", type=float, default=1e-12)
    _common(ht, bootstrap=False)

    kz = sub.add_parser("katz-centrality", aliases=["katz"])
    kz.add_argument("--alpha", type=float, default=0.1)
    kz.add_argument("--iterations", type=int, default=100)
    kz.add_argument("--tolerance", type=float, default=1e-12)
    _common(kz)

    lr = sub.add_parser("leader-rank")
    lr.add_argument("--iterations", type=int, default=1000)
    lr.add_argument("--tolerance", type=float, default=1e-12)
    _common(lr)

    kc = sub.add_parser("k-core")
    _common(kc, bootstrap=False)

    br = sub.add_parser("birank")
    br.add_argument("--iterations", type=int, default=10)
    br.add_argument("--alpha", type=float, default=1.0)
    br.add_argument("--beta", type=float, default=1.0)
    br.add_argument("--init", default="random",
                    choices=("random", "uniform"))
    _common(br)

    hm = sub.add_parser("harmonic")
    hm.add_argument("--direction", default="in",
                    choices=("in", "out", "total"))
    hm.add_argument("--num-sampled", type=int, default=None,
                    help="Boldi–Vigna sampled-source estimator")
    hm.add_argument("--weighted", action="store_true",
                    help="weights as lengths instead of unit hops")
    _common(hm)

    cc = sub.add_parser("components")
    cc.add_argument("--min-graph-size", type=int, default=1)
    cc.add_argument("--output", default=None, metavar="PREFIX",
                    help="write each component's edges to PREFIX.<i> "
                         "(largest first) instead of printing membership")
    _common(cc, bootstrap=False)
    return top


def _emit_scores(scores: DataFrame, fmt: str, algorithm: str, out) -> None:
    rows = (
        scores.select("name", "score")
        .orderBy(F.desc("score"), F.asc("name"))
        .collect()
    )
    if fmt == "jsonl":
        header = {"propagon": 1, "kind": "model", "algorithm": algorithm,
                  "params": {}, "entities": len(rows)}
        out.write(json.dumps(header, separators=(",", ":")) + "\n")
        for r in rows:
            out.write(json.dumps({"id": r["name"], "score": r["score"]},
                                 separators=(",", ":")) + "\n")
    else:
        for r in rows:
            out.write(f"{r['name']}: {r['score']}\n")


def _emit_two_section(top: DataFrame, bottom: DataFrame, out) -> None:
    for i, part in enumerate((top, bottom)):
        if i:
            out.write("\n")
        rows = (
            part.select("name", "score")
            .orderBy(F.desc("score"), F.asc("name"))
            .collect()
        )
        for r in rows:
            out.write(f"{r['name']}: {r['score']}\n")


def run(argv: list[str], spark=None, out=None) -> int:
    """Parse ``argv`` and run. ``spark``/``out`` injectable for tests;
    when ``spark`` is None a ``local[--threads]`` session is created."""
    args = _build_parser().parse_args(argv)
    out = out or sys.stdout

    from propagon_spark.session import get_spark
    from propagon_spark.graph.core import Graph
    from propagon_spark.sources.edge_text import read_edge_text, read_seeds

    own_session = spark is None
    if own_session:
        spark = get_spark(app_name=f"propagon-cli-{args.algo}",
                          master=f"local[{args.threads}]",
                          shuffle_partitions=2 * args.threads)
        spark.sparkContext.setLogLevel("ERROR")
    try:
        edges = read_edge_text(
            spark, args.path, matches=getattr(args, "matches", False)
        )

        algo = args.algo
        if algo == "birank":
            if args.save_state:
                raise SystemExit(
                    "--save-state is single-vector model state; birank is "
                    "a two-vector model — use the library API "
                    "(propagon_spark.state.save_two_section_tsv)"
                )
            from propagon_spark.graph.birank import birank

            res = birank(edges, iterations=args.iterations,
                         alpha=args.alpha, beta=args.beta, init=args.init)
            _emit_two_section(res.src_scores, res.dst_scores, out)
            return 0

        g = Graph.from_edges(edges, weight="weight")

        if algo == "components":
            from propagon_spark.graph.components import (
                connected_components, extract_components,
            )

            if args.output:
                parts = extract_components(g, min_size=args.min_graph_size)
                for i, (_names, comp_edges) in enumerate(parts):
                    rows = comp_edges.collect()
                    with open(f"{args.output}.{i}", "w") as f:
                        for r in rows:
                            f.write(f"{r['src']}\t{r['dst']}\t{r['weight']}\n")
                return 0
            cc = connected_components(g, min_size=args.min_graph_size)
            for r in cc.collect():
                out.write(f"{r['name']}: {r['component']}\n")
            return 0

        if algo == "hits":
            if args.save_state:
                raise SystemExit(
                    "--save-state is single-vector model state; hits is a "
                    "two-vector model — use the library API "
                    "(propagon_spark.state.save_two_section_tsv)"
                )
            from propagon_spark.graph.hits import hits

            res = hits(g, iterations=args.iterations,
                       tolerance=args.tolerance)
            _emit_two_section(res.authorities, res.hubs, out)
            return 0

        if algo == "k-core":
            from propagon_spark.graph.kcore import kcore

            scores = kcore(g).select(
                "name", F.col("coreness").cast("double").alias("score")
            )
            _emit_scores(scores, args.format, "kcore", out)
            if args.save_state:
                from propagon_spark.state import save_model_jsonl

                save_model_jsonl(scores, args.save_state, algorithm="kcore")
            return 0

        # (name, score)-shaped fits — bootstrap-wrappable like the
        # reference's with_bootstrap leaves (main.rs:1777-1804)
        if algo == "page-rank":
            from propagon_spark.graph.pagerank import pagerank

            seeds = None
            if args.seeds:
                seeds = {n.strip(): 1.0 for n in args.seeds.split(",")}
            elif args.seeds_file:
                seeds = read_seeds(args.seeds_file)

            warm_prev = None
            if args.load_state:
                from propagon_spark.state import load_model_jsonl

                _, prev = load_model_jsonl(spark, args.load_state)
                warm_prev = prev  # (name, score)

            def fit(gg):
                kw = dict(
                    damping=args.damping_factor,
                    iterations=args.iterations, tol=args.tolerance,
                    sink=args.sink_dispersion, seeds=seeds,
                )
                if warm_prev is not None:
                    from propagon_spark.streaming.incremental import (
                        pagerank_warm,
                    )

                    ranks = gg.vocab.join(warm_prev, "name").select(
                        "id", F.col("score").alias("rank")
                    )
                    return pagerank_warm(gg, ranks, **kw).scores
                return pagerank(gg, **kw).scores

        elif algo in ("katz-centrality", "katz"):
            from propagon_spark.graph.katz import katz

            def fit(gg):
                return katz(gg, alpha=args.alpha,
                            iterations=args.iterations,
                            tolerance=args.tolerance)

        elif algo == "leader-rank":
            from propagon_spark.graph.leader_rank import leader_rank

            def fit(gg):
                return leader_rank(gg, iterations=args.iterations,
                                   tolerance=args.tolerance)

        elif algo == "harmonic":
            from propagon_spark.graph.harmonic import harmonic

            def fit(gg):
                kw = {}
                if args.num_sampled is not None:
                    kw["seed"] = args.seed  # source-sampling seed
                return harmonic(
                    gg, direction=args.direction, sample=args.num_sampled,
                    cost="weight" if args.weighted else "unit", **kw,
                )

        elif algo == "degree":
            from propagon_spark.graph.degree import degree

            def fit(gg):
                return degree(gg, direction=args.direction)

        else:  # pragma: no cover — argparse rejects unknown leaves
            raise SystemExit(f"unknown algorithm {algo!r}")

        if getattr(args, "bootstrap", None):
            from propagon_spark.graph.bootstrap import bootstrap

            bres = bootstrap(g, fit, replicates=args.bootstrap,
                             seed=args.seed)
            for r in bres.intervals.orderBy(
                F.desc("score_mean"), F.asc("name")
            ).collect():
                out.write(
                    f"{r['name']}: {r['score_mean']} "
                    f"[{r['score_lo']}, {r['score_hi']}] "
                    f"rank [{r['rank_lo']}, {r['rank_hi']}]\n"
                )
            return 0

        scores = fit(g)
        _emit_scores(scores, args.format, algo, out)
        if args.save_state:
            from propagon_spark.state import save_model_jsonl

            save_model_jsonl(scores, args.save_state, algorithm=algo)
        return 0
    finally:
        if own_session:
            spark.stop()


def main() -> None:  # pragma: no cover — thin process wrapper
    raise SystemExit(run(sys.argv[1:]))
