"""Feature-gate registry (plans/featuregate.py): stage defaults, override
rules, CLI flag parsing — mirroring featuregate/gate.go semantics."""

from __future__ import annotations

import pytest

from opentelemetry_collector_spark.plans.featuregate import (
    GLOBAL,
    Registry,
    STAGE_ALPHA,
    STAGE_BETA,
    STAGE_DEPRECATED,
    STAGE_STABLE,
)


def _reg():
    r = Registry()
    r.register("a.alpha", STAGE_ALPHA)
    r.register("b.beta", STAGE_BETA)
    r.register("s.stable", STAGE_STABLE)
    r.register("d.dep", STAGE_DEPRECATED)
    return r


def test_stage_defaults():
    r = _reg()
    assert not r.is_enabled("a.alpha")
    assert r.is_enabled("b.beta")
    assert r.is_enabled("s.stable")
    assert not r.is_enabled("d.dep")


def test_overrides_and_immutability():
    r = _reg()
    r.set("a.alpha", True)
    r.set("b.beta", False)
    assert r.is_enabled("a.alpha") and not r.is_enabled("b.beta")
    with pytest.raises(ValueError):
        r.set("s.stable", False)  # stable cannot be disabled (gate.go)
    with pytest.raises(ValueError):
        r.set("d.dep", True)  # deprecated cannot be enabled
    with pytest.raises(ValueError):
        r.set("s.stable", True)  # gate.go: even a no-op Set is rejected
    with pytest.raises(ValueError):
        r.set("d.dep", False)  # same for deprecated


def test_unknown_and_duplicate_rejected():
    r = _reg()
    with pytest.raises(ValueError):
        r.set("nope", True)
    with pytest.raises(ValueError):
        r.is_enabled("nope")
    with pytest.raises(ValueError):
        r.register("a.alpha", STAGE_BETA)
    with pytest.raises(ValueError):
        r.register("x", "gamma")


def test_global_registry_ships_engine_gates():
    """The shipped gates are exactly the ones the engine reads: setting a
    gate that no module checks would silently do nothing."""
    import re
    from pathlib import Path

    import opentelemetry_collector_spark as pkg

    read = {
        gate_id
        for f in Path(pkg.__file__).parent.rglob("*.py")
        for gate_id in re.findall(r'is_enabled\(\s*"([^"]+)"', f.read_text())
    }
    assert {g.gate_id for g in GLOBAL.gates()} == read == {
        "engine.approxQuantiles"
    }
