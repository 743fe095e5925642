"""Pre-publish validation gate: thresholded corpus sanity ratios with
typed errors, run between the docs stage and the index build.

Reference analog: the validation stage of the loading pipeline —
semi-join match ratios against golden tables with hard typed failures
(luigi_pipeline/lib/hail_tasks.py:91-115,
luigi_pipeline/seqr_loading.py:101-147, e.g. SeqrValidationError).
The graft's corpus has no golden variant tables, so the gate checks the
ratios a crawl pipeline actually regresses on: extraction-empty rate,
duplicate-text rate, and the token-length distribution.

One aggregation job over the docs stage (the dup estimate uses
approx_count_distinct — HLL, constant memory at any corpus size).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame


class ValidationError(RuntimeError):
    """Typed validation failure (SeqrValidationError analog)."""

    def __init__(self, metric: str, value: float, bound: float, message: str):
        super().__init__(message)
        self.metric = metric
        self.value = value
        self.bound = bound


class EmptyExtractionRateError(ValidationError):
    pass


class DuplicateRateError(ValidationError):
    pass


class DocLengthDistributionError(ValidationError):
    pass


@dataclass
class ValidationThresholds:
    """Lenient defaults — tighten per corpus.  None disables the gate."""

    max_empty_ratio: float = 0.05
    max_dup_ratio: float = 0.9
    min_avgdl: float = 1.0
    max_avgdl: float = 1_000_000.0


def validate_docs(docs: DataFrame, thresholds: ValidationThresholds) -> dict:
    """Standalone gate over a docs DataFrame (one agg job).  The
    pipeline path uses validate_globals instead — its inputs already
    ride in corpus_stats' single aggregation."""
    from ..operators.index_build import corpus_stats

    return validate_globals(corpus_stats(docs), thresholds)


def validate_globals(globals_: dict, thresholds: ValidationThresholds) -> dict:
    """Check corpus_stats globals against thresholds; returns the
    metrics dict (recorded into the manifest) or raises a typed
    ValidationError — publish never happens on a corrupted corpus."""
    n = int(globals_["n_docs"])
    metrics = {
        "n_docs": n,
        "empty_ratio": (int(globals_.get("n_empty_docs", 0)) / n) if n else 0.0,
        # n_uniq_texts is an HLL estimate and can overshoot n: clamp at 0
        "dup_ratio": max(0.0, 1.0 - int(globals_.get("n_uniq_texts", n)) / n) if n else 0.0,
        "avgdl": float(globals_["avgdl"]),
        "thresholds": asdict(thresholds),
    }
    if n == 0:
        return metrics  # empty builds are legal (empty-with-schema path)
    if metrics["empty_ratio"] > thresholds.max_empty_ratio:
        raise EmptyExtractionRateError(
            "empty_ratio",
            metrics["empty_ratio"],
            thresholds.max_empty_ratio,
            f"extraction produced {metrics['empty_ratio']:.1%} empty docs "
            f"(> {thresholds.max_empty_ratio:.1%}) — refusing to publish",
        )
    if metrics["dup_ratio"] > thresholds.max_dup_ratio:
        raise DuplicateRateError(
            "dup_ratio",
            metrics["dup_ratio"],
            thresholds.max_dup_ratio,
            f"~{metrics['dup_ratio']:.1%} duplicate texts "
            f"(> {thresholds.max_dup_ratio:.1%}) — refusing to publish",
        )
    if not (thresholds.min_avgdl <= metrics["avgdl"] <= thresholds.max_avgdl):
        raise DocLengthDistributionError(
            "avgdl",
            metrics["avgdl"],
            thresholds.min_avgdl,
            f"avgdl {metrics['avgdl']:.1f} outside "
            f"[{thresholds.min_avgdl}, {thresholds.max_avgdl}] — refusing to publish",
        )
    return metrics
