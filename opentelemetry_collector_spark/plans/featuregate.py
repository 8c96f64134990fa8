"""Feature gates — the featuregate registry analog (SURVEY §2.9;
featuregate/gate.go:21-71, featuregate/registry.go:27+).

The reference ships a global registry of named on/off gates, each with a
lifecycle stage that fixes its default: Alpha (off by default), Beta (on by
default), Stable (on, cannot be disabled — attempting to is a config error),
Deprecated (off, cannot be enabled). Components consult gates to switch
behaviors; operators flip them via config. Same contract here, as a plain
registry the service builder and CLI can consult.
"""

from __future__ import annotations

from dataclasses import dataclass

STAGE_ALPHA = "alpha"
STAGE_BETA = "beta"
STAGE_STABLE = "stable"
STAGE_DEPRECATED = "deprecated"

_STAGES = (STAGE_ALPHA, STAGE_BETA, STAGE_STABLE, STAGE_DEPRECATED)
# stage -> (default enabled, may be overridden)
_STAGE_RULES = {
    STAGE_ALPHA: (False, True),
    STAGE_BETA: (True, True),
    STAGE_STABLE: (True, False),   # gate.go: stable gates cannot be disabled
    STAGE_DEPRECATED: (False, False),
}


@dataclass(frozen=True)
class Gate:
    gate_id: str
    stage: str
    description: str = ""


class Registry:
    """Named gate registry (featuregate/registry.go analog)."""

    def __init__(self) -> None:
        self._gates: dict[str, Gate] = {}
        self._overrides: dict[str, bool] = {}

    def register(self, gate_id: str, stage: str, description: str = "") -> Gate:
        if stage not in _STAGES:
            raise ValueError(f"unknown stage {stage!r} (want one of {_STAGES})")
        if gate_id in self._gates:
            raise ValueError(f"gate {gate_id!r} already registered")
        g = Gate(gate_id, stage, description)
        self._gates[gate_id] = g
        return g

    def set(self, gate_id: str, enabled: bool) -> None:
        g = self._gates.get(gate_id)
        if g is None:
            raise ValueError(f"no such feature gate {gate_id!r}")
        _default, overridable = _STAGE_RULES[g.stage]
        # gate.go rejects ANY Set() on stable/deprecated gates, including a
        # no-op matching the default — same here
        if not overridable:
            raise ValueError(
                f"gate {gate_id!r} is {g.stage}; its state cannot be set"
            )
        self._overrides[gate_id] = enabled

    def is_enabled(self, gate_id: str) -> bool:
        g = self._gates.get(gate_id)
        if g is None:
            raise ValueError(f"no such feature gate {gate_id!r}")
        if gate_id in self._overrides:
            return self._overrides[gate_id]
        return _STAGE_RULES[g.stage][0]

    def gates(self) -> list[Gate]:
        return sorted(self._gates.values(), key=lambda g: g.gate_id)


# Global registry with the engine's own gates, mirroring how the reference
# registers gates at import time.
GLOBAL = Registry()
GATE_APPROX_QUANTILES = GLOBAL.register(
    "engine.approxQuantiles", STAGE_ALPHA,
    "t-digest percentile_approx for Summary quantiles instead of the exact "
    "per-series sort (operators/metrics.py summary_quantiles)",
)
