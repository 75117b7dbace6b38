"""Round-12 clean-data-vacuity audit over certificate-style queries
(round-11 verdict task 4).

Background: the round-11 mutation pass proved one certificate
(dq_referential_integrity's ri_ok) could not be falsified by ANY code
flip on the clean testdata — its defect count is 0 under both the
correct and a side-swapped predicate — and the fix was a DATA-mutation
falsifier test (tests/test_governance_falsifiability.py). This audit
generalizes that lesson: for every query whose output carries a
certificate-style column (boolean flag the oracle pins, or a
count-of-defects), classify it as

- FIRES      — the column takes both values / the defect count is
               nonzero on the clean lake, so ordinary value parity
               already falsifies defects in it;
- PROVEN     — constant on clean data, but a round-11/12 code mutation
               demonstrably flipped it (mutation table in
               scripts/mutation_probe_r12.py, in git history at 8cabfc2);
- VACUOUS    — constant on clean data and no mutation has flipped it:
               needs a data-mutation falsifier test.

Mechanism: run each candidate's DuckDB ORACLE at sf0.01 (ground truth
by construction — both engines agree row-for-row per the strict
sweeps) and tabulate the certificate columns' value distributions.

Usage: python scripts/certificate_vacuity_audit.py
Prints one line per (query, column) and a summary; exit 1 if any
VACUOUS certificate lacks a falsifier test.
"""

from __future__ import annotations

import importlib.util
import sys

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# (query, [certificate columns]) — flags the oracle pins or defect
# counts; assembled by grepping alias("*_ok"|"*_ge_*"|"*_exact"|
# "*_within_*"|"*_equals_*"|"no_*"|"passed"|"k_anonymous"|...) and
# keeping the certificate-style ones (per-row descriptive booleans
# like is_current/is_anomaly are ordinary value-parity columns, not
# certificates — a predicate flip changes them on clean data by
# construction).
CANDIDATES: dict[str, list[str]] = {
    "dq_expectation_checks": ["passed"],
    "dq_referential_integrity": ["ri_ok", "n_orphans"],
    "privacy_k_anonymity_audit": ["k_anonymous", "n_violating"],
    "privacy_l_diversity_audit": [],  # filled from schema below
    "privacy_t_closeness_audit": [],
    "gdpr_erasure_audit": [],
    "split_group_leakage_audit": [],
    "feature_hashing_collision_audit": [],
    "sketch_bloom_fpr_audit": ["no_false_negatives"],
    "sketch_count_min_audit": [],
    "opt_zonemap_skipping_audit": [],
    "opt_histogram_selectivity_audit": [],
    "sketch_hll_handbuilt": ["merge_equals_direct"],
    "sketch_misra_gries_heavyhitters": [
        "mg_underestimates", "mg_error_within_bound", "mg_recall_complete",
    ],
    "sketch_quantile_mergeable": ["rank_lower_ok", "rank_upper_ok"],
    "minhash_merge_certificate": ["merge_equals_direct", "estimate_within_bound"],
    "retrieval_wand_prune_certificate": ["pruned_topk_overlap"],
    "stream_dedup_within_watermark": ["kept_from_input"],
    "dedup_minhash_lsh": ["lsh_precision_exact", "lsh_recall_ge_90pct", "recall_ok"],
    "dedup_simhash": [
        "simhash_precision_exact", "simhash_recall_ge_80pct", "recall_ok",
    ],
    "sim_ann_lsh_bucketed": [],
    "sim_ann_ivf": [],
    "curation_attrition_funnel": ["q_ok", "r_ok"],
    "opt_selinger_join_order": ["dl_ok", "do_ok", "is_best"],
    "quality_gopher_gates": [],
}

# Certificates already flipped by a recorded code mutation
# (scripts/mutation_probe_r12.py table in git history at 8cabfc2,
# r11 sed pass + r12 attr re-run).
MUTATION_PROVEN = {
    ("dedup_minhash_lsh", "lsh_recall_ge_90pct"),
    ("dedup_minhash_lsh", "lsh_precision_exact"),
    ("dedup_minhash_lsh", "recall_ok"),
    ("dedup_simhash", "simhash_recall_ge_80pct"),
    ("dedup_simhash", "simhash_precision_exact"),
    ("dedup_simhash", "recall_ok"),
    ("sim_ann_lsh_bucketed", "lsh_recall_ge_5pct"),
    ("sim_ann_ivf", "ivf_recall_ge_10pct"),
    ("minhash_merge_certificate", "merge_equals_direct"),
    ("minhash_merge_certificate", "estimate_within_bound"),
    ("retrieval_wand_prune_certificate", "pruned_topk_overlap"),
    ("stream_dedup_within_watermark", "kept_from_input"),
    ("sketch_quantile_mergeable", "rank_lower_ok"),
    ("sketch_quantile_mergeable", "rank_upper_ok"),
    ("curation_attrition_funnel", "q_ok"),
    ("curation_attrition_funnel", "r_ok"),
    # round-12 additions (this audit's own scratch-branch pass; all
    # strict-compared at sf0.01, outcomes in PERFORMANCE.md):
    ("sketch_hll_handbuilt", "merge_equals_direct"),  # daily max->min: DETECTED
    ("sketch_misra_gries_heavyhitters", "mg_underestimates"),  # c-sub -> c+sub: DETECTED
    ("sketch_misra_gries_heavyhitters", "mg_error_within_bound"),  # same mutation: DETECTED
    ("sketch_misra_gries_heavyhitters", "mg_recall_complete"),  # same pipeline; bound legs flipped
    ("sketch_bloom_fpr_audit", "no_false_negatives"),  # drop SET bit 4: DETECTED (pos 0 variant inert — potency-checked)
    ("sketch_count_min_audit", "never_underestimates"),  # sketch built from odd keys only (stale-sketch class): DETECTED
}

# Certificates with a committed DATA-mutation falsifier test.
DATA_FALSIFIER = {
    ("dq_referential_integrity", "ri_ok"): "tests/test_governance_falsifiability.py",
    ("dq_referential_integrity", "n_orphans"): "tests/test_governance_falsifiability.py",
    # round-12: both privacy gates now reach BOTH polarities on
    # deterministic scratch lakes (skewed cell / singleton cell).
    ("privacy_t_closeness_audit", "n_violating"): "tests/test_privacy_falsifiability.py",
    ("privacy_t_closeness_audit", "t_close"): "tests/test_privacy_falsifiability.py",
    ("privacy_k_anonymity_audit", "k_anonymous"): "tests/test_privacy_falsifiability.py",
    ("privacy_k_anonymity_audit", "n_violating"): "tests/test_privacy_falsifiability.py",
}


def main() -> int:
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    osql = entry.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    vacuous: list[tuple[str, str]] = []
    for name, cols in sorted(CANDIDATES.items()):
        if name not in osql or osql[name] is None:
            print(f"{name}: NO ORACLE (rows-only query) — skipping")
            continue
        cur = con.execute(osql[name])
        desc = [d[0] for d in cur.description]
        rows = cur.fetchall()
        # auto-pick certificate-ish columns when not listed explicitly
        auto = [
            c for c in desc
            if c.endswith(("_ok", "_exact", "_anonymous", "_complete"))
            or c.startswith(("no_", "never_", "n_violating", "n_orphans", "n_leaked"))
            or "_ge_" in c or "_within_" in c or "_equals_" in c
            or c in ("passed", "passes", "k_anonymous", "is_best", "t_close")
        ]
        check = sorted(set(cols) | set(auto))
        if not check:
            print(f"{name}: no certificate-style columns in oracle output {desc}")
            continue
        for c in check:
            if c not in desc:
                # internal flag consumed upstream of the output frame —
                # it shapes output VALUES, so parity covers it; the
                # mutation table records whether a flip was detected.
                proven = (name, c) in MUTATION_PROVEN
                print(
                    f"{name}.{c}: INTERNAL (not an output column) -> "
                    + ("PROVEN (code mutation flipped downstream values)"
                       if proven else "covered by value parity")
                )
                continue
            i = desc.index(c)
            vals = {r[i] for r in rows}
            if len(vals) > 1 or (
                vals and not isinstance(next(iter(vals)), bool) and vals != {0}
            ):
                cls = "FIRES"
            elif (name, c) in MUTATION_PROVEN:
                cls = "PROVEN (code mutation flipped it)"
            elif (name, c) in DATA_FALSIFIER:
                cls = f"FALSIFIER ({DATA_FALSIFIER[(name, c)]})"
            else:
                cls = "VACUOUS — needs a data-mutation falsifier"
                vacuous.append((name, c))
            print(f"{name}.{c}: values={sorted(vals, key=repr)} -> {cls}")

    print(f"\n{len(vacuous)} vacuous certificate(s)"
          + (f": {vacuous}" if vacuous else ""))
    return 1 if vacuous else 0


if __name__ == "__main__":
    sys.exit(main())
