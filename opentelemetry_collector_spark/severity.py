"""The 25-level severity ladder.

Parity with the reference enum SeverityNumber
(pdata/plog/severity_number.go:21-50): Unspecified=0, TRACE..TRACE4=1..4,
DEBUG..DEBUG4=5..8, INFO..INFO4=9..12, WARN..WARN4=13..16,
ERROR..ERROR4=17..20, FATAL..FATAL4=21..24. String() names per
severity_number.go:52-107 (base names without a numeric suffix for level 1
of each band, e.g. "Info", "Info2", ...). We use the UPPERCASE token form
that appears in transcript text markers.

This table is the single source of truth for BOTH the Spark engine and the
DuckDB oracle SQL, so engine-vs-oracle equality is structural, not
coincidental. The engine's form is one lookup into a literal SQL ``map(...)``
rendered by ``operators/parse.py`` (``_SEVERITY_NUMBER_SQL``); the oracle's is
the generated CASE of ``severity_case_sql`` (DuckDB has no map literals).
"""

from __future__ import annotations

_BANDS = ["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL"]

#: token -> number, 24 named levels (Unspecified=0 is "no marker present").
SEVERITY_NUMBER: dict[str, int] = {}
for _b, _band in enumerate(_BANDS):
    for _i in range(4):
        name = _band if _i == 0 else f"{_band}{_i + 1}"
        SEVERITY_NUMBER[name] = _b * 4 + _i + 1

#: number -> canonical token ("" for 0/unspecified).
SEVERITY_TEXT: dict[int, str] = {v: k for k, v in SEVERITY_NUMBER.items()}

SEVERITY_UNSPECIFIED = 0

# severity_number >= ERROR (17) counts as an "error severity" row in the
# sink_counts aggregate (n_error_severity), mirroring how obsreport splits
# send_failed vs sent counters (obsreport/obsreport_exporter.go:141-161).
ERROR_THRESHOLD = SEVERITY_NUMBER["ERROR"]


def severity_case_sql(col: str = "sev_text") -> str:
    """CASE expression mapping a severity token column to its number.

    Unknown non-null token -> NULL (dead-letter signal); NULL token -> 0
    (SeverityNumberUnspecified, severity_number.go:23).
    Valid in both Spark SQL and DuckDB SQL.
    """
    whens = "\n        ".join(
        f"WHEN '{name}' THEN {num}" for name, num in SEVERITY_NUMBER.items()
    )
    return (
        f"CASE WHEN {col} IS NULL THEN 0\n        "
        f"ELSE CASE {col}\n        {whens}\n        ELSE NULL END END"
    )
