#!/usr/bin/env python3
"""Compare the 35 artifacts of two RunPipeline output directories.

Usage: python3 tools/eda_diff.py <dirA> <dirB>

Each artifact must exist on both sides and be byte-identical, or else
have the same lines in the same order whose cells are equal as text or,
where both parse as numbers, within 1e-12 relative (NaN matches NaN).
CSVs split into cells as CSV; summary.json and report.md split on
whitespace, commas and brackets. report.md is compared without its
input-path line, which names the input directory of the run.
Prints one line per artifact that differs and a summary line with the
count of byte-identical artifacts; exits 0
when all match, 1 on any difference, 2 on bad usage.
"""
import csv
import io
import math
import os
import re
import sys

ARTIFACTS = [
    "target_stats.csv", "target_family_stats.csv", "opened_targets_distribution.csv",
    "target_pair_stats.csv", "target_top_pairs.csv",
    "top_positive_target_pairs.csv", "top_negative_target_pairs.csv",
    "top_cooccurrence_lift_pairs.csv", "target_corr_matrix.csv",
    "antagonist_corr_slice.csv", "antagonist_profile.csv",
    "target_cluster_quality.csv", "target_cluster_assignments.csv",
    "target_cluster_summary.csv", "feature_missingness_summary.csv",
    "extra_missingness_summary.csv", "top10_missing_features.csv",
    "extra_missingness_bands.csv", "filled_extra_count_deciles.csv",
    "missing_indicator_auc.csv", "categorical_cardinality.csv",
    "categorical_unseen_categories.csv",
    "adversarial_auc.csv", "feature_target_linear_corr.csv",
    "top10_features_per_target.csv", "target_top10_feature_mix.csv",
    "feature_universality.csv", "feature_universality_top10.csv",
    "feature_signal_summary.csv", "golden_linear_top5_selected_targets.csv",
    "whale_signals.csv", "whale_feature_candidates.csv",
    "whale_top3_per_target.csv", "summary.json", "report.md"]
REL_TOL = 1e-12
INPUT_PATH_LINE = "Deterministic pipeline over `"
TOKEN_SPLIT = re.compile(r"[\s,\[\]{}:]+")


def read(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def cells(name: str, text: str) -> list:
    """Lines of one artifact, each as a list of cells."""
    if name.endswith(".csv"):
        return list(csv.reader(io.StringIO(text)))
    lines = text.splitlines()
    if name == "report.md":
        lines = [l for l in lines if INPUT_PATH_LINE not in l]
    return [[t for t in TOKEN_SPLIT.split(l) if t] for l in lines]


def number(s: str):
    try:
        return float(s)
    except ValueError:
        return None


def same_cell(a: str, b: str) -> bool:
    if a == b:
        return True
    x, y = number(a), number(b)
    if x is None or y is None:
        return False
    if math.isnan(x) or math.isnan(y):
        return math.isnan(x) and math.isnan(y)
    return abs(x - y) <= REL_TOL * max(abs(x), abs(y))


def diff(name: str, a: str, b: str) -> "str | None":
    """None when the two texts match, else where they first differ."""
    if a == b:
        return None
    ra, rb = cells(name, a), cells(name, b)
    if len(ra) != len(rb):
        return f"{len(ra)} vs {len(rb)} lines"
    for i, (la, lb) in enumerate(zip(ra, rb), 1):
        if len(la) != len(lb):
            return f"line {i}: {len(la)} vs {len(lb)} cells"
        for j, (ca, cb) in enumerate(zip(la, lb), 1):
            if not same_cell(ca, cb):
                return f"line {i} cell {j}: {ca!r} vs {cb!r}"
    return None


def main(argv: list) -> int:
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    da, db = argv[1], argv[2]
    bad = identical = 0
    for name in ARTIFACTS:
        pa, pb = os.path.join(da, name), os.path.join(db, name)
        missing = [p for p in (pa, pb) if not os.path.isfile(p)]
        if missing:
            why = f"missing in {', '.join(missing)}"
        else:
            ta, tb = read(pa), read(pb)
            identical += ta == tb
            why = diff(name, ta, tb)
        if why:
            bad += 1
            print(f"DIFF {name}: {why}")
    print(f"{len(ARTIFACTS) - bad}/{len(ARTIFACTS)} artifacts match "
          f"({identical} byte-identical)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
