"""The benchmark's workloads: which registry steps run, at what scale,
and into which sink. BENCHMARK.json records why each was chosen.

The tables are byte copies of the engine's seed-42 reference tables
(``data/``, checked against ``data/SHA256SUMS``): only the tables the
workloads read, at the scale each workload runs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    """One named set of steps run as passes over the reference tables.

    Attributes:
        name: workload name used on the command line.
        steps: registry keys in canonical (cold-pass) order.
        sf: scale factor of the tables, read from ``data/sf<sf>/``.
        sink: ``"noop"`` (each step materialised into Spark's noop sink)
            or ``"dag"`` (each pass is one ``cli.run_dag`` call writing
            one parquet output per step).
        after: DAG dependencies, step key -> keys it must follow.
    """

    name: str
    steps: tuple[str, ...]
    sf: float
    sink: str
    after: tuple[tuple[str, tuple[str, ...]], ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        # The post-GWAS chain: clump, fine-map, coloc. Shuffle-, window-
        # and join-heavy execution in operators/ and plans/; plan building
        # happens once (cold) and is memoised. At sf0.1 coloc alone takes
        # about 2 s warm on 4 cores, well above the per-job floor.
        Workload(
            name="gwas_pipeline",
            steps=("window_clump_leads", "pics_finemap", "coloc"),
            sf=0.1,
            sink="noop",
        ),
        # A configured pipeline through cli.run_dag on small tables: each
        # step sits near Spark's per-job floor, so per-query constants
        # dominate (config, plan building, scheduling, parquet commit).
        # The only workload that writes files and drains streams eagerly
        # inside the plan call (streaming/).
        Workload(
            name="step_dag",
            steps=(
                "q3_shipping_priority",
                "asof_join",
                "stream_window_agg",
                "stream_dedup",
                "dedup_exact",
            ),
            sf=0.01,
            sink="dag",
            after=(("stream_dedup", ("stream_window_agg",)),),
        ),
    )
}

