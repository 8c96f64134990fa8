"""Config resolution, OTLP JSON round-trip, batch split, salting
invariance — the control-plane / reliability parity tests
(SURVEY §2.6, §2.9; otelcol/collector_test.go:41-227 config variants,
processor/batchprocessor split tests)."""

from __future__ import annotations

import glob

import pytest

from opentelemetry_collector_spark.operators.enrich import enrich
from opentelemetry_collector_spark.operators.observe import (
    from_otlp_json,
    to_otlp_json,
)
from opentelemetry_collector_spark.operators.parse import parse_turns
from opentelemetry_collector_spark.operators.route import route, write_sinks
from opentelemetry_collector_spark.plans.config import (
    ServiceConfig,
    deep_merge,
    expand_vars,
    load_uri,
)
from opentelemetry_collector_spark.sources.transcripts import events_to_transcripts
from tests.conftest import SF_SMOKE, assert_same_routing, run_routed

VALID_CFG = {
    "receivers": {"transcripts": {"path": "${env:SRC_PATH}"}},
    "processors": {"parse": {}, "enrich": {}},
    "exporters": {"sinks": {"path": "/tmp/out"}},
    "service": {
        "pipelines": {
            "logs": {
                "receivers": ["transcripts"],
                "processors": ["parse", "enrich"],
                "exporters": ["sinks"],
            }
        }
    },
}


# --- confmap analog ---------------------------------------------------------


def test_config_valid_and_env_expansion():
    cfg = ServiceConfig.from_sources(VALID_CFG, env={"SRC_PATH": "/data/x"})
    assert cfg.receivers["transcripts"]["path"] == "/data/x"


def test_config_unset_env_resolves_empty():
    cfg = ServiceConfig.from_sources(VALID_CFG, env={})
    assert cfg.receivers["transcripts"]["path"] == ""


def test_config_merge_order():
    over = {"exporters": {"sinks": {"path": "/tmp/other"}}}
    merged = deep_merge(VALID_CFG, over)
    cfg = ServiceConfig.from_sources(merged, env={})
    assert cfg.exporters["sinks"]["path"] == "/tmp/other"


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda c: c["service"]["pipelines"].clear(), "at least one pipeline"),
        (lambda c: c["service"]["pipelines"]["logs"].update(receivers=[]),
         "at least one receiver"),
        (lambda c: c["service"]["pipelines"]["logs"].update(exporters=[]),
         "at least one exporter"),
        (lambda c: c["service"]["pipelines"]["logs"].update(
            processors=["parse", "parse"]), "more than once"),
        (lambda c: c["service"]["pipelines"]["logs"].update(
            receivers=["nope"]), "unknown receiver"),
    ],
)
def test_config_invalid_variants(mutate, msg):
    import copy

    bad = copy.deepcopy(VALID_CFG)
    mutate(bad)
    with pytest.raises(ValueError, match=msg):
        ServiceConfig.from_sources(bad, env={})


def test_config_yaml_file_roundtrip(tmp_path):
    import yaml

    p = tmp_path / "collector.yaml"
    p.write_text(yaml.safe_dump(VALID_CFG))
    cfg = ServiceConfig.from_sources(str(p), env={"SRC_PATH": "/y"})
    assert cfg.pipelines["logs"]["processors"] == ["parse", "enrich"]


def test_expand_vars_nested():
    v = expand_vars({"a": ["${X}", {"b": "pre-${env:X}-post"}]}, env={"X": "v"})
    assert v == {"a": ["v", {"b": "pre-v-post"}]}


# --- provider URIs (confmap/provider/*) -------------------------------------


def test_config_file_scheme_uri(tmp_path):
    import yaml

    p = tmp_path / "c.yaml"
    p.write_text(yaml.safe_dump(VALID_CFG))
    cfg = ServiceConfig.from_sources(f"file:{p}", env={"SRC_PATH": "/y"})
    assert cfg.receivers["transcripts"]["path"] == "/y"


def test_config_env_provider_uri(monkeypatch):
    import yaml

    body = yaml.safe_dump(VALID_CFG)
    # explicit env mapping: provider URIs and ${} expansion resolve against
    # the SAME environment (one resolve call never sees two environments)
    cfg = ServiceConfig.from_sources(
        "env:OTEL_CFG_BODY", env={"OTEL_CFG_BODY": body, "SRC_PATH": "/z"}
    )
    assert cfg.receivers["transcripts"]["path"] == "/z"
    # no env given -> the process environment serves both roles
    monkeypatch.setenv("OTEL_CFG_BODY", body)
    monkeypatch.setenv("SRC_PATH", "/proc")
    cfg2 = ServiceConfig.from_sources("env:OTEL_CFG_BODY")
    assert cfg2.receivers["transcripts"]["path"] == "/proc"


def test_config_env_provider_unset_raises():
    with pytest.raises(ValueError, match="is not set"):
        load_uri("env:OTEL_CFG_BODY_DOES_NOT_EXIST")


def test_config_yaml_provider_uri():
    # yamlprovider: the URI body IS the YAML — used for CLI --set overrides
    over = load_uri('yaml:{exporters: {sinks: {path: /tmp/override}}}')
    cfg = ServiceConfig.from_sources(VALID_CFG, over, env={})
    assert cfg.exporters["sinks"]["path"] == "/tmp/override"


def test_config_http_provider_loopback(tmp_path):
    """httpprovider round-trip against a real loopback server (no external
    network); https differs only in the TLS handshake urllib owns."""
    import http.server
    import threading
    import yaml

    (tmp_path / "c.yaml").write_text(yaml.safe_dump(VALID_CFG))
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(tmp_path), **kw
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        cfg = ServiceConfig.from_sources(
            f"http://127.0.0.1:{port}/c.yaml", env={"SRC_PATH": "/h"}
        )
        assert cfg.receivers["transcripts"]["path"] == "/h"
        with pytest.raises(Exception):
            load_uri(f"http://127.0.0.1:{port}/missing.yaml")
    finally:
        srv.shutdown()
        srv.server_close()


def test_config_unknown_scheme_raises():
    with pytest.raises(ValueError, match="unsupported config provider"):
        load_uri("ftp:whatever")


# --- OTLP JSON codec --------------------------------------------------------


def test_otlp_json_roundtrip(spark):
    parsed = parse_turns(events_to_transcripts(spark, SF_SMOKE))
    cols = ["conv_id", "turn_idx", "role", "ts", "severity_number",
            "severity_text", "trace_id", "span_id", "attributes_json", "body"]
    back = from_otlp_json(to_otlp_json(parsed)).select(*cols)
    orig = parsed.select(*cols)
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0


# --- batch split (maxRecordsPerFile) ---------------------------------------


def test_sink_write_respects_max_records_per_file(spark, tmp_path):
    routed = route(enrich(parse_turns(
        events_to_transcripts(spark, SF_SMOKE)), spark))
    base = str(tmp_path / "sinks")
    write_sinks(routed.coalesce(1), base, max_records_per_file=100)
    for f in glob.glob(f"{base}/*/*.parquet"):
        n = spark.read.parquet(f).count()
        assert n <= 100, f"{f} has {n} rows (split cap violated)"
    # count conservation across the fan-out write
    assert spark.read.parquet(base).count() == routed.count()


# --- salting invariance -----------------------------------------------------


def test_salted_pipeline_same_results(spark):
    t = events_to_transcripts(spark, SF_SMOKE)
    assert_same_routing(
        run_routed(spark, t, salted=False), run_routed(spark, t, salted=True)
    )


def test_expand_vars_dollar_escape():
    """$$ escapes a literal $ (confmap expand.go parity): $${X} is never
    expanded."""
    assert expand_vars("a $${X} b", env={"X": "v"}) == "a ${X} b"
    assert expand_vars("$$", env={}) == "$"
    assert expand_vars("cost: $$5 for ${X}", env={"X": "v"}) == "cost: $5 for v"


# --- JSON-lines wire format (OTLP/HTTP JSON analog) -------------------------


@pytest.mark.parametrize(
    "compression",
    [None, "none", "gzip", "zlib", "deflate", "snappy", "lz4", "zstd"],
)
def test_jsonl_file_roundtrip(spark, tmp_path, compression):
    """Parsed turns -> JSON-lines files -> typed columns: the full wire
    round-trip must be lossless, including µs timestamps, under every
    reference wire codec (configcompression/compressionType.go:22-41 —
    zlib and deflate are one stream format there too; zstd exercises the
    pyarrow frame wire on a classpath without the Hadoop zstd codec).
    The write returns the number of lines it wrote; it runs on a daemon
    thread under a deadline, so a count that never completes fails the
    test instead of stalling the suite."""
    import glob
    import threading

    from opentelemetry_collector_spark.sources.jsonl import (
        read_otlp_jsonl,
        write_otlp_jsonl,
    )

    parsed = parse_turns(events_to_transcripts(spark, SF_SMOKE))
    path = str(tmp_path / "export")
    out = {}

    def write():
        try:
            out["n"] = write_otlp_jsonl(parsed, path, compression=compression)
        except BaseException as e:  # re-raised on the test thread
            out["error"] = e

    t = threading.Thread(target=write, daemon=True)
    t.start()
    t.join(180)
    assert not t.is_alive(), "write_otlp_jsonl did not return within 180 s"
    if "error" in out:
        raise out["error"]
    assert out["n"] == parsed.count() > 0

    if compression not in (None, "none"):
        ext = {"gzip": ".gz", "zlib": ".deflate", "deflate": ".deflate",
               "snappy": ".snappy", "lz4": ".lz4", "zstd": ".zst"}
        files = glob.glob(f"{path}/part-*")
        assert files and all(f.endswith(ext[compression]) for f in files), (
            f"expected {ext[compression]} files, got {files[:3]}"
        )

    back = read_otlp_jsonl(spark, path)
    cols = ["conv_id", "turn_idx", "role", "ts", "severity_number",
            "severity_text", "trace_id", "span_id", "attributes_json", "body"]
    orig = parsed.select(*cols)
    got = back.select(*cols)
    assert got.exceptAll(orig).count() == 0
    assert orig.exceptAll(got).count() == 0


def test_jsonl_unknown_codec_rejected(spark, tmp_path):
    """An unregistered codec name fails fast at config time (the reference
    validates compression type the same way, compressionType.go IsCompressed
    switch), not halfway through a write."""
    from opentelemetry_collector_spark.sources.jsonl import write_otlp_jsonl

    parsed = parse_turns(events_to_transcripts(spark, SF_SMOKE))
    with pytest.raises(ValueError, match="unsupported wire compression"):
        write_otlp_jsonl(parsed, str(tmp_path / "x"), compression="brotli")


def test_jsonl_malformed_lines_dead_letter(spark, tmp_path):
    """Garbage lines become null-column rows (partial success), not scan
    failures."""
    from opentelemetry_collector_spark.sources.jsonl import read_otlp_jsonl

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-0.txt").write_text(
        '{"conv_id": "c1", "turn_idx": 0, "role": "user", '
        '"time_unix_micros": 1700000000000000, "severity_number": 0, '
        '"body": "ok"}\n'
        "NOT JSON AT ALL\n"
    )
    df = read_otlp_jsonl(spark, str(p))
    assert df.count() == 2
    assert df.filter("conv_id IS NULL").count() == 1  # the dead-letter row
    assert df.filter("conv_id = 'c1'").count() == 1


def test_sink_write_compression_codec(spark, tmp_path):
    """configcompression analog: the sink write honors the parquet codec
    (zstd files on disk, content identical)."""
    from opentelemetry_collector_spark.operators.enrich import enrich
    from opentelemetry_collector_spark.operators.parse import parse_turns
    from opentelemetry_collector_spark.operators.route import route, write_sinks
    from opentelemetry_collector_spark.sources.transcripts import (
        events_to_transcripts,
    )
    from tests.conftest import SF_SMOKE

    routed = route(enrich(parse_turns(
        events_to_transcripts(spark, SF_SMOKE)), spark))
    out = str(tmp_path / "zstd_sinks")
    write_sinks(routed, out, compression="zstd")
    files = list((tmp_path / "zstd_sinks").rglob("*.parquet"))
    assert files and all(".zstd." in f.name for f in files)
    assert spark.read.parquet(out).count() == routed.count()


def test_registry_oracles_name_unique_queries():
    """The driver contract merges the two query families into one dict, so
    a name in both would silently drop a query; every oracle key must name
    a registered query."""
    from opentelemetry_collector_spark import queries as q

    assert not set(q.PIPELINE_QUERIES) & set(q.DOCS_QUERIES)
    merged = {**q.PIPELINE_QUERIES, **q.DOCS_QUERIES}
    assert set(q.PIPELINE_ORACLES) | set(q.DOCS_ORACLES) <= set(merged)


def test_overwrite_mode_and_empty_frames_have_one_home():
    """Dynamic partition overwrite is a per-write option of the ledger's
    tick commits and of write_sinks; no module sets (or saves and
    restores) the session setting, which the session pins to static.
    Empty frames are ``session.local_rows`` literals, never a Python-list
    scan."""
    import pathlib

    import opentelemetry_collector_spark as pkg
    from opentelemetry_collector_spark.session import _SCALE_CONFS

    root = pathlib.Path(pkg.__file__).parent
    owners = {"ledger.py", "operators/route.py", "session.py"}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        text = path.read_text()
        assert "createDataFrame([]" not in text, rel
        if rel not in owners:
            assert "partitionOverwriteMode" not in text, rel
    assert _SCALE_CONFS["spark.sql.sources.partitionOverwriteMode"] == "static"


def test_operator_import_loads_only_what_it_uses():
    """The package ``__init__`` modules import nothing: importing one
    operator module leaves parse, route and aggregate unloaded."""
    import subprocess
    import sys

    probe = (
        "import sys; import opentelemetry_collector_spark.operators.dedup; "
        "print(sorted(m for m in ('parse', 'route', 'aggregate') "
        "if f'opentelemetry_collector_spark.operators.{m}' in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True,
        check=True, timeout=120,
    )
    assert out.stdout.strip() == "[]", out.stdout + out.stderr


def test_otlp_json_key_names_have_one_home():
    """The OTLP/JSON request nesting is written once, by
    functions/otlpjson.py's encoder (which derives the member names from
    the message table): any other module that names its keys is a second
    OTLP/JSON codec."""
    import pathlib

    import opentelemetry_collector_spark as pkg
    from opentelemetry_collector_spark.functions import otlpjson

    keys = ("logRecords", "scopeSpans", "resourceMetrics")
    root = pathlib.Path(pkg.__file__).parent
    home = "functions/otlpjson.py"
    written = "".join((
        otlpjson.logs_request_to_otlp_json({}, "", []),
        otlpjson.trace_request_to_otlp_json({}, "", []),
        otlpjson.metrics_request_to_otlp_json({}, "", []),
    ))
    assert all(f'"{k}":' in written for k in keys)
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel != home:
            text = path.read_text()
            assert not [k for k in keys if k in text], rel


# Public top-level names whose only callers are tests, each with the aim it
# serves. Any other such name is test-only code: delete it with its tests,
# or name its aim here.
TEST_ONLY_AIMS = {
    "IncrementalDeduper": "aim 3: exact cross-tick dedup ledger, "
    "retry-idempotent at every crash point",
    "IncrementalSketcher": "aim 3: cross-tick HLL ledger, compaction keeps "
    "one partition per tick",
    "decode_log_records": "environment gate: the native spark-protobuf "
    "decoder when its jar is on the classpath",
    "get_catalog": "environment gate: the Iceberg catalog when its jar is on "
    "the classpath, bucketed parquet otherwise",
    "classify_http_error": "COVERAGE §2.2: the OTLP/HTTP exporter's "
    "retryable/permanent error split",
    "has_flag": "COVERAGE §2.7: flags-word scalar functions",
    "trace_flags": "COVERAGE §2.7: flags-word scalar functions",
    "otlp_ingest_response": "wire-codec pair: protobuf wire of "
    "otlp_ingest_response_json",
    "to_otlp_trace_protobuf": "wire-codec pair: protobuf wire of "
    "to_otlp_trace_json",
    "from_otlp_trace_protobuf": "wire-codec pair: decoder of "
    "to_otlp_trace_protobuf",
    "to_otlp_metric_protobuf": "wire-codec pair: protobuf wire of "
    "to_otlp_metric_json",
    "from_otlp_metric_protobuf": "wire-codec pair: decoder of "
    "to_otlp_metric_protobuf",
    "Ledger.compact": "COVERAGE ledger compaction: the maintenance step an "
    "operator runs between commits; it heals a crashed swap",
    "IncrementalSketcher.estimate": "aim 3: the read side of "
    "IncrementalSketcher's cross-tick HLL ledger",
    "Registry.gates": "aim 3: lists the shipped gates, so a test can check "
    "that every gate is one some module reads",
    "ParquetCatalog.write_transcripts": "environment gate: writes the "
    "bucketed table of the catalog get_catalog returns",
    "IcebergCatalog.write_transcripts": "environment gate: writes the "
    "bucketed table of the catalog get_catalog returns",
    "deterministic_trace_id": "FIXTURES.md: defines the trace ids the "
    "fixture's transcripts embed",
    "deterministic_span_id": "FIXTURES.md: defines the span ids the "
    "fixture's transcripts embed",
}


def _public_names_and_outside_refs():
    """(public top-level def/class name, or ``Class.method`` for a public
    method of a package class -> module, every identifier that code outside
    tests references): the package (a definition's own body and the
    imports of a package ``__init__.py`` excluded), __spark_entry__.py, the
    benchmarks, the scripts and the example configs."""
    import ast
    import pathlib
    import re

    import opentelemetry_collector_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    repo = root.parent

    def refs(node, own=None):
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                    and n.value.isidentifier():
                out.add(n.value)
        return out - {own}

    defs, used = {}, set()
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    functions = (ast.FunctionDef, ast.AsyncFunctionDef)
    reexports = (ast.Import, ast.ImportFrom)
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(repo).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if path.name == "__init__.py" and isinstance(stmt, reexports):
                continue  # a package re-export is not a caller
            own = stmt.name if isinstance(stmt, kinds) else None
            if own and not own.startswith("_"):
                defs[own] = rel
            if not isinstance(stmt, ast.ClassDef):
                used |= refs(stmt, own)
                continue
            for node in stmt.bases + stmt.keywords + stmt.decorator_list:
                used |= refs(node, own)
            for m in stmt.body:  # a method's own body excluded too
                method = m.name if isinstance(m, functions) else None
                if method and not method.startswith("_"):
                    defs[f"{own}.{method}"] = rel
                used |= refs(m, method) - {own}
    outside = [repo / "__spark_entry__.py", repo / "bench.py"] + [
        p for d in ("perfbench", "scripts") for p in sorted((repo / d).rglob("*.py"))
        if "tests" not in p.relative_to(repo).parts
    ]
    for path in outside:
        used |= refs(ast.parse(path.read_text()))
    for path in sorted((repo / "examples").glob("*.yaml")):
        used |= set(re.findall(r"[A-Za-z_]\w*", path.read_text()))
    return defs, used


def test_public_names_have_a_caller_outside_tests():
    """Every public top-level name and public method in the package is
    reached by the CLI, run_service, the query registry, the benchmarks,
    the scripts or the example configs, or is listed in TEST_ONLY_AIMS with
    its aim; a listed name that is gone or has gained such a caller is a
    stale entry. Methods are matched by name, like top-level names."""
    defs, used = _public_names_and_outside_refs()
    test_only = {
        name: rel for name, rel in defs.items()
        if name.rsplit(".", 1)[-1] not in used
    }
    assert {n: r for n, r in test_only.items() if n not in TEST_ONLY_AIMS} == {}
    assert sorted(set(TEST_ONLY_AIMS) - set(test_only)) == []
