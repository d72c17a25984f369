"""The benchmark's workloads: call lists in run order, each call with its
home layer (the layer charged with the work of the call's final job and
of jobs whose call site is outside the program)."""
import os
from dataclasses import dataclass

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass(frozen=True)
class Workload:
    calls: tuple        # (query name, home layer)
    tables: tuple       # the input tables the calls read
    input_kind: str     # "lake": seeded layout; "docs": also seeded documents
    pass_s: float       # a measured pass (the first ones still warming up)
                        # on the 4-core host of the baseline:
                        # --seconds / pass_s passes are measured


WORKLOADS = {
    # the paper's pipeline on the relational lake: outliers, record
    # matching, and the multi-table pipeline (profile → cluster → shared
    # rules → violation scan). Bound by the per-job scheduling floor.
    "rulegen": Workload(
        calls=(("o1_sigma_outliers", "outlier"),
               ("m5_record_links", "matching"),
               ("mp1_multi_pipeline", "pipeline")),
        tables=("events", "customer", "orders"),
        input_kind="lake", pass_s=6.0),
    # corpus curation over a seeded corpus twice the size of the lake's,
    # drawn from the lake corpus's distributions, near-copies included
    # (gen.py): the streaming chain's batch twin (cleaning,
    # quality gates, staged materialization), embedding top-k, and the
    # exact Jaccard similarity join, whose work grows with the corpus
    "curation": Workload(
        calls=(("w13_stream_pipeline", "streaming"),
               ("s1_cosine_topk", "sim"),
               ("d2_jaccard_pairs", "dedup")),
        tables=("documents", "embeddings"),
        input_kind="docs", pass_s=7.0),
}
