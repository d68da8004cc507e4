"""The benchmark's workloads: seeded inputs, the timed operation, and the
checks of its outputs.

Both workloads drive the public API ``api.match_addresses`` with the
default 8-pass ``MatchConfig`` from one closed-loop client: the next call
is sent only after the previous one returned and its outputs were checked.
The program receives only the generated DataFrames.  Each run is a fresh
session with nothing warmed, as a batch job submitted on its own is, so
the timed call pays the session's JIT, code generation and Python worker
start, and every call pays ~180 Spark jobs of per-level fixed cost.  At
the sizes the run budget allows, that fixed cost is most of a call: a
cold call on the 120-row toy corpus takes ~70% as long as one on
``batch_skewed``'s 6000 rows (~95% of one on ``incremental_store``'s
2000), and a warm session does not change the share.

* ``batch_skewed`` — a corpus whose hottest postcode block holds ~25% of
  the rows (datagen's FIXTURES.md §7 profile): ~5.4M level-1 candidate
  pairs, over 40% of them in the hot block.  The data-dependent ~30% of its
  call is where salting, Arrow scoring and shuffle show.
* ``incremental_store`` — a uniform-block corpus (no hot block) matched
  with a fresh ``CheckpointStore`` and ``prior_results``: a previous run's
  results in which the even record_ids that truly match are full matches,
  so F4 prior exclusion drops them.  It is the workload that writes
  durable checkpoints, and its call is almost all per-level and per-write
  fixed cost; a salting change should not move it.

Corpus.  Each workload has one corpus: datagen's output at generator seed
CORPUS_SEED, taken as it comes.  ``--seed`` only labels the repeat, so
every run of a workload does the same work and match_f1 is the same on
every run.  The corpus's generated inputs and the outputs of the
workload's call on it are pinned in ``pins.json`` (written by ``pin.py``):
a run whose inputs differ is refused, and a call whose outputs differ
counts as failed.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from dataclasses import dataclass

import pandas as pd

from address_matcher_spark import api, datagen
from address_matcher_spark.sources.checkpoint import CheckpointStore

CORPUS_SEED = 0   # datagen seed of every workload's corpus
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
RESULT_COLS = ["record_id", "ref_id", "full_match", "match_method", "fuzzy_score"]


@dataclass(frozen=True)
class Spec:
    name: str
    scale: datagen.Scale
    toy: datagen.Scale


WORKLOADS = {
    "batch_skewed": Spec(
        "batch_skewed",
        datagen.Scale(n_search=6000, n_ref=7500, n_postcodes=150,
                      heavy_share=0.25),
        datagen.Scale(n_search=120, n_ref=150, n_postcodes=8, heavy_share=0.25),
    ),
    "incremental_store": Spec(
        "incremental_store",
        datagen.Scale(n_search=2000, n_ref=2500, heavy_share=0.0),
        datagen.Scale(n_search=120, n_ref=150, n_postcodes=8, heavy_share=0.0),
    ),
}


def _digest_frame(df: pd.DataFrame) -> str:
    h = hashlib.sha256(",".join(map(str, df.columns)).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()[:16]


def generate(spec: Spec, toy: bool) -> tuple[dict, str]:
    """(tables, input digest) of the workload's corpus."""
    tables = datagen.generate(spec.toy if toy else spec.scale, seed=CORPUS_SEED)
    tables = {k: tables[k] for k in
              ("search_addresses", "reference_addresses", "labeled_pairs")}
    tables["search_addresses"] = tables["search_addresses"].drop(
        columns=["existing_match"])
    digest = hashlib.sha256("".join(
        _digest_frame(tables[k]) for k in sorted(tables)).encode()).hexdigest()[:16]
    return tables, digest


def load_pins() -> dict:
    with open(PINS) as fh:
        return json.load(fh)


def pin_key(toy: bool) -> str:
    return "toy" if toy else "full"


def prior_results(labeled: pd.DataFrame) -> pd.DataFrame:
    """A previous run's results: the even record_ids, full matches to
    their true reference row where the generator labels one."""
    even = labeled[labeled["record_id"] % 2 == 0]
    return pd.DataFrame({
        "record_id": even["record_id"].astype("int64"),
        "ref_id": even["ref_id"].astype("int64"),
        "full_match": even["is_match"].astype(bool),
        "match_method": "previous_run",
    })


@dataclass
class Inputs:
    search: object        # Spark DataFrames
    ref: object
    prior: object | None  # incremental_store only
    labeled: pd.DataFrame
    prior_matched: set    # record_ids the prior excludes
    digest: str
    rows: int             # search records submitted per call


def materialise(spark, spec: Spec, toy: bool) -> Inputs:
    tables, digest = generate(spec, toy)
    search = spark.createDataFrame(tables["search_addresses"]).localCheckpoint()
    ref = spark.createDataFrame(tables["reference_addresses"]).localCheckpoint()
    prior, excluded = None, set()
    if spec.name == "incremental_store":
        pdf = prior_results(tables["labeled_pairs"])
        prior = spark.createDataFrame(pdf).localCheckpoint()
        excluded = set(pdf.loc[pdf["full_match"], "record_id"].tolist())
    return Inputs(search, ref, prior, tables["labeled_pairs"], excluded, digest,
                  len(tables["search_addresses"]))


def _rows_digest(rows: list[tuple]) -> str:
    return hashlib.sha256(json.dumps(sorted(rows), default=str).encode()
                          ).hexdigest()[:16]


def collect_outputs(out: api.MatchResult) -> dict:
    """Materialise results, clusters and summary (the user's view)."""
    res = [(r["record_id"], r["ref_id"], bool(r["full_match"]),
            r["match_method"],
            None if r["fuzzy_score"] is None else round(float(r["fuzzy_score"]), 6))
           for r in out.results.select(*RESULT_COLS).collect()]
    clusters = [(r["record_id"], r["ref_id"], r["cluster_id"])
                for r in out.clusters.select("record_id", "ref_id",
                                             "cluster_id").collect()]
    summary = out.summary.collect()[0].asDict()
    return {"results": res, "clusters": clusters, "summary": summary}


def digests(outputs: dict) -> dict:
    return {"results": _rows_digest(outputs["results"]),
            "clusters": _rows_digest(outputs["clusters"])}


def summary_consistent(outputs: dict) -> bool:
    s, res = outputs["summary"], outputs["results"]
    return (s["attempted"] == len(res)
            and s["matched"] == sum(1 for r in res if r[2])
            and len({r[0] for r in res}) == len(res))


def pair_f1(matched_pairs: set, labeled: pd.DataFrame,
            excluded: set = frozenset()) -> float:
    """Pairwise F1 of full_match (record_id, ref_id) pairs against the
    generator's true labeled pairs of the records not excluded by a
    prior run."""
    truth = {(int(a), int(b)) for a, b in
             labeled.loc[labeled["is_match"], ["record_id", "ref_id"]].itertuples(
                 index=False) if int(a) not in excluded}
    tp = len(matched_pairs & truth)
    if tp == 0:
        return 0.0
    precision, recall = tp / len(matched_pairs), tp / len(truth)
    return 2 * precision * recall / (precision + recall)


def matched_pairs(outputs: dict) -> set:
    return {(int(r[0]), int(r[1])) for r in outputs["results"] if r[2]}


class Runner:
    """The timed operation of one workload: one API call, materialised."""

    def __init__(self, spec: Spec, inputs: Inputs, work_dir: str):
        self.spec, self.inputs, self.work_dir = spec, inputs, work_dir

    def op(self) -> dict:
        if self.spec.name == "incremental_store":
            root = tempfile.mkdtemp(prefix="store-", dir=self.work_dir)
            out = api.match_addresses(
                self.inputs.search, self.inputs.ref,
                prior_results=self.inputs.prior,
                store=CheckpointStore(root=root, run_id="incremental"))
        else:
            out = api.match_addresses(self.inputs.search, self.inputs.ref)
        return collect_outputs(out)

    def f1(self, outputs: dict) -> float:
        return pair_f1(matched_pairs(outputs), self.inputs.labeled,
                       self.inputs.prior_matched)


def layer_counts(runner: Runner, outputs: dict | None, waterfall: dict) -> dict:
    """Per-layer counts taken outside the timed window: the area
    co-filter's kept shares (with their bases), the level-1 postcode
    blocks' candidate pairs (bench.py's count_candidate_pairs) and the
    waterfall's residue error (reported per-level residue vs the exact one
    derived from the final results' match_method)."""
    import bench
    from address_matcher_spark.operators import cofilter
    from address_matcher_spark.plans import pipeline as P
    from address_matcher_spark.sources.coerce import coerce_reference_schema

    cfg = P.MatchConfig()
    search = runner.inputs.search
    ref = coerce_reference_schema(runner.inputs.ref)
    kept_s, kept_r, _ = cofilter.area_cofilter(
        search, ref, cfg.postcode_col, "Postcode", address_cols=cfg.address_cols)
    n_s, n_r = search.count(), ref.count()
    out = {
        "cofilter.search_rows": n_s,
        "cofilter.search_kept_ratio": kept_s.count() / n_s if n_s else 0.0,
        "cofilter.ref_rows": n_r,
        "cofilter.ref_kept_ratio": kept_r.count() / n_r if n_r else 0.0,
    }
    s_side, r_side = P.prepare_sides(search, ref, cfg, runner.inputs.prior)
    out["blocking.candidate_pairs"] = bench.count_candidate_pairs({
        "smin": P.standardise_search(s_side, False),
        "rmin": P.standardise_reference(r_side, False),
    })

    levels = waterfall.get("passes", [])
    total = waterfall.get("total_records", 0)
    won_at = {}
    for r in (outputs or {}).get("results", []):
        if r[2]:
            won_at[r[3]] = won_at.get(r[3], 0) + 1
    exact, matched = [], 0
    for lv in levels:
        exact.append(total - matched)
        matched += sum(won_at.get(n, 0) for n in lv["pass"].split("+"))
    out["exact_residues"] = exact
    out["pipeline.residue_error_rows"] = sum(
        abs(lv["residue_rows"] - e) for lv, e in zip(levels, exact))
    return out
