"""The benchmark's workloads.

Each workload is a fixed mix of registry query ids run in one pass. The
mixes are trimmed from the full families so that a run fits the
benchmark's time budget; the reason each id is in its mix is in
README.md.

A mix is a tuple of units. The seed shuffles the units; a unit of two
ids keeps a base query ahead of its memo sibling, which reuses the
artifact the base fitted. `lead` ids run first in every pass, in their
order: `ml_als_recommend` leads `ml_pipeline` because its 9–11 s of
Spark jobs finish warming the JVM. A query that ran after it took
25–40% less time than the same query ahead of it, so with ALS shuffled
in, the median query latency moved with the seed (spread 0.22 over ten
seeds).

`warm` lists (query id, fixture scale) pairs that run, untimed, on the
pass's SparkContext before the pass. They use the smallest fixtures,
where the per-job costs of the fits already show. Without them, the
first MLlib fits in a JVM pay for loading and compiling their code:
`ml_feature_pca` and `ml_feature_text_pipeline` took 1.4–6 s after ALS
instead of 0.7–2 s, and the median query latency spread by 0.45 over
five seeds. `ml_als_recommend` is left out because its fit takes about
12 s even there.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    units: tuple[tuple[str, ...], ...]
    warm: tuple[tuple[str, str], ...] = ()
    lead: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "ml_pipeline",
            (
                ("ml_feature_pca", "ml_pca_bound"),
                ("ml_feature_text_pipeline",),
            ),
            lead=("ml_als_recommend",),
            warm=(
                ("ml_feature_pca", "sf0.001"),
                ("ml_pca_bound", "sf0.001"),
                ("ml_feature_text_pipeline", "sf0.001"),
            ),
        ),
        Workload(
            "llm_curation",
            (
                ("udaf_cogroup_pandas",),
                ("pipeline_dsir_select",),
            ),
        ),
    )
}
