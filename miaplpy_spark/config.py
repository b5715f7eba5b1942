"""Engine configuration.

One frozen dataclass passed into UDF closures (the reference's
kernel-config pattern U4: the method enum and the test switches from
defaults/miaplpyApp_auto.cfg become plain fields here, captured once —
not per-row parameters).

The time grid grafts the reference's geometry onto the retention
cascade: raw slots every 360 s, so ONE 1h window = 10 slots = one
mini-stack (ministackSize=10, defaults/miaplpyApp_auto.cfg:19), and
ONE 1d window = 24 hourly windows re-linked by the datum pass.
"""

from __future__ import annotations

from dataclasses import dataclass

# the phase-linking estimators _link_batch dispatches on; the
# reference's PTA and SBW are not ported (COVERAGE.md A5, A7)
PHASE_LINKING_METHODS = ("EVD", "EMI")


@dataclass(frozen=True)
class EngineConfig:
    # time grid
    slot_seconds: int = 360            # raw cadence (6 "days" scaled to minutes)
    slots_per_hour: int = 10           # == mini-stack size
    hours_per_day: int = 24
    epoch0: int = 1_700_000_000        # 2023-11-14T22:13:20Z, fixed anchor

    # kernel
    n_samples: int = 32                # S: ensemble width per slot (complex)
    vocab_size: int = 50257
    method: str = "EMI"                # EVD | EMI
    # (PHASE_LINKING_METHODS)
    shp_filter: bool = False           # apply the SHP membership test
    # inside the 1h rollup: slots whose token-sample distribution fails
    # the two-sample KS test (alpha = 0.05) against the window's center
    # slot are excluded from the eigen ensemble (interpolated like
    # gaps); aggregates still cover all present rows
    # (get_shp_row_col_c, lib/utils.pyx:903-998)
    ps_test: bool = True               # PS shortcut inside the 1h rollup:
    # groups whose coherence is rank-1-dominant (top eig >95% of the
    # spectrum norm) with amplitude dispersion <0.42 keep raw phase
    # (test_PS_cy dispatch in the reference patch loop,
    # lib/utils.pyx:420-459, 1110-1187)

    # physical layout
    n_buckets: int = 64                # doc_id hash buckets = partition keys
    salt_by_day: bool = False          # skew defusal: bucket on
    # (doc_id, day) instead of doc_id alone, so a single giant doc
    # spreads across partitions while every 1h/1d window's rows stay
    # co-located (windows never span a day boundary)

    # datagen (FIXTURES.md F1)
    seed: int = 42
    gap_modulus: int = 20              # ~5% slots dropped
    sources: tuple = ("web", "code", "books", "wiki",
                      "chat", "forums", "papers", "news")
    zipf_alpha: float = 1.5

    def __post_init__(self):
        # an unknown name would otherwise fall through to EVD unnoticed
        if self.method not in PHASE_LINKING_METHODS:
            raise ValueError(f"unknown phase-linking method {self.method!r}; "
                             f"expected one of {PHASE_LINKING_METHODS}")

    @property
    def hour_seconds(self) -> int:
        return self.slot_seconds * self.slots_per_hour

    @property
    def day_seconds(self) -> int:
        return self.hour_seconds * self.hours_per_day

    @property
    def slots_per_day(self) -> int:
        return self.slots_per_hour * self.hours_per_day


@dataclass(frozen=True)
class ScaleSpec:
    """Named data scales (FIXTURES.md F1: tiny / small / bench)."""
    n_docs: int
    n_slots: int                       # slots per doc
    tok_lo: int = 64
    tok_hi: int = 512
    tok_heavy_lo: int = 2048
    tok_heavy_hi: int = 8192
    heavy_pct: int = 10                # % of rows with heavy token counts


SCALES: dict[str, ScaleSpec] = {
    # tiny keeps token arrays short so unit tests stay fast
    "tiny": ScaleSpec(n_docs=100, n_slots=576, tok_lo=16, tok_hi=64,
                      tok_heavy_lo=128, tok_heavy_hi=256),
    "small": ScaleSpec(n_docs=1000, n_slots=576),
    "bench": ScaleSpec(n_docs=20000, n_slots=480),
    # 10x the bench table (~91M observation rows after gaps) — the
    # scale-proof input for the lifecycle CLI; still fits the sandbox
    "bench10x": ScaleSpec(n_docs=200000, n_slots=480),
}
