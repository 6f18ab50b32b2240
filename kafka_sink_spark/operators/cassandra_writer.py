"""Executor-side Cassandra write path: the physical layer of W1-W11.

``write_routed`` takes a routed DataFrame (output of ``run_sink_pipeline``)
and executes it against Cassandra with the reference's write semantics
(reference behaviors pinned in SURVEY §2.5):

- per-route CQL: generated INSERT/DELETE/counter-UPDATE templates or the
  user-provided query (W1-W5) — exactly the `cql_statement` shapes;
- partition-key batching: same-routing-key statements grouped into unlogged
  batches capped at ``maxNumberOfRecordsInBatch`` (W8,
  reference: SimpleEndToEndSimulacronIT.java:776-875); distinct keys execute
  individually;
- bounded concurrency: ≤ ``maxConcurrentRequests`` in-flight requests (W9,
  sample:35-36) via a sliding window over async executions;
- nullToUnset: null bound values sent as driver UNSET (W6,
  reference: RawDataEndToEndCCMIT.java:181-218);
- per-table consistency level (W7).

Spark-first shape: the DataFrame is repartitioned ON the routing key and
sorted within partitions, so (a) all statements for one Cassandra partition
are built by one task — batching is a linear scan over consecutive rows, no
per-task hash map; (b) at 1000 executors each task talks to a bounded set of
replicas (token-aware locality is the driver's job, but key-clustered tasks
make its routing cache effective).

The driver session is injected (``session_factory``) so the logic is fully
testable without a cluster; ``cassandra_session_factory`` builds a real one
from ``SinkConfig`` when the ``cassandra-driver`` package is available.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_sink_spark.config import ConfigError, SinkConfig, TableConfig, TableSchema
from kafka_sink_spark.operators.writes import (
    ROUTE_COL,
    ROUTE_COUNTER,
    ROUTE_DELETE,
    ROUTE_INSERT,
    TTL_COL,
    WRITETIME_COL,
)

# The optional cassandra-driver, probed once at import. Without it the
# writer talks to the session's fake/test interface (``execute_batch``,
# string consistency levels) and UNSET is a stable stand-in (fakes/tests
# compare identity).
try:  # pragma: no cover - depends on optional package
    from cassandra import ConsistencyLevel  # type: ignore
    from cassandra.query import BatchStatement, BatchType  # type: ignore
    from cassandra.query import UNSET_VALUE as UNSET  # type: ignore
except ImportError:  # pragma: no cover
    ConsistencyLevel = None

    class _Unset:
        def __repr__(self) -> str:
            return "UNSET"

    UNSET = _Unset()


def statement_texts(table: TableConfig, schema: TableSchema) -> dict[str, str]:
    """The prepared-statement texts for each route (W1/W2/W4/W3/W5) —
    delegates to the single template builder in operators.writes so the
    executed statements can never drift from the oracle-verified ``cql``
    column. Adds ``insert_plain`` (no USING TIMESTAMP) for records without a
    writetime: binding null to a USING TIMESTAMP variable is a server error.
    """
    from kafka_sink_spark.operators.writes import cql_templates

    return cql_templates(table, schema)


def _route_and_params(
    row: dict, table: TableConfig, schema: TableSchema
) -> tuple[str, dict]:
    """Pick the statement kind and bound parameters for one routed row."""
    route = row[ROUTE_COL]
    null_marker = UNSET if table.null_to_unset else None
    if table.query is not None:
        params = {
            e.column: (row.get(e.column) if row.get(e.column) is not None else null_marker)
            for e in table.mapping
        }
        return "provided", params
    if route == ROUTE_DELETE:
        return "delete", {c: row[c] for c in schema.primary_key}
    if route == ROUTE_COUNTER:
        params = {c: row[c] for c in schema.primary_key}
        params.update({c: row.get(c) or 0 for c in schema.counters})
        return "counter", params
    assert route == ROUTE_INSERT
    params = {
        c.name: (row.get(c.name) if row.get(c.name) is not None else null_marker)
        for c in schema.columns
    }
    wt = row.get(WRITETIME_COL)
    ttl = row.get(TTL_COL)
    if wt is None:
        # No writetime → the timestamp-free templates (binding null to
        # USING TIMESTAMP is a server error); a TTL must still apply.
        if ttl is not None:
            params["message_internal_ttl"] = ttl
            return "insert_plain_ttl", params
        return "insert_plain", params
    params["message_internal_timestamp"] = wt
    if ttl is not None:
        params["message_internal_ttl"] = ttl
        return "insert_ttl", params
    return "insert", params


def _submit_batch(session, stmts: list, consistency_level: str, counter: bool):
    """Submit one BATCH frame (W8): UNLOGGED for regular mutations, COUNTER
    for counter tables (Cassandra rejects counter statements inside
    logged/unlogged batches). Uses the real driver's BatchStatement when the
    package is present; otherwise delegates to the session's
    ``execute_batch`` hook (the fake/test interface)."""
    if ConsistencyLevel is None:
        return session.execute_batch(stmts, consistency_level=consistency_level)
    batch = BatchStatement(  # pragma: no cover - needs optional package
        batch_type=BatchType.COUNTER if counter else BatchType.UNLOGGED,
        consistency_level=getattr(ConsistencyLevel, consistency_level),
    )
    for prep, params in stmts:
        batch.add(prep, params)
    return session.execute_async(batch)


def _apply_consistency(prepared: dict, consistency_level: str) -> None:
    """W7 for SINGLE executes: the driver applies a PreparedStatement's
    consistency_level to every statement bound from it. Guarded setattr —
    test fakes may return plain strings from prepare()."""
    cl = (
        consistency_level
        if ConsistencyLevel is None
        else getattr(ConsistencyLevel, consistency_level)
    )
    for stmt in prepared.values():
        try:
            stmt.consistency_level = cl
        except AttributeError:
            pass


def _estimate_statement_bytes(params: dict) -> int:
    """Deterministic payload estimate of ONE statement: the UTF-8/binary
    length of every bound value (None/UNSET bind no payload). Feeds the
    KAF-99 batchSizeInBytesHistogram equivalent, which the reference
    updates once PER STATEMENT in a batch
    (SimpleEndToEndSimulacronIT.java:888-895: a 2-statement batch yields
    histogram count 2, with min≠max when the payloads differ) — an
    observability histogram, so an estimate of the bound data (not the
    exact protocol framing) is the honest measurable here."""
    total = 0
    for v in params.values():
        if v is None or v is UNSET:
            continue
        if isinstance(v, (bytes, bytearray)):
            total += len(v)
        elif isinstance(v, str):
            total += len(v.encode("utf-8"))
        else:
            total += len(str(v))
    return total


def _pow2_bucket(n: int) -> int:
    """Smallest power of two ≥ n (0 stays 0) — bounds the bytes histogram
    to ~60 buckets at any scale."""
    return 0 if n <= 0 else 1 << (n - 1).bit_length()


def write_routed(
    routed: DataFrame,
    table: TableConfig,
    schema: TableSchema,
    config: SinkConfig,
    session_factory: Callable[[], object],
) -> dict[str, int]:
    """Execute a routed DataFrame against Cassandra. Returns aggregate stats
    {'rows', 'batches', 'singles'} (a batch = one unlogged BATCH frame;
    a single = one standalone EXECUTE) plus the KAF-99 histogram inputs:
    'batch_size_hist' {records_per_frame: n_frames} (bounded by
    maxNumberOfRecordsInBatch), 'batch_bytes_hist' {power-of-two estimated
    statement payload bytes: n_statements} (one update per statement, like
    the reference's batchSizeInBytesHistogram), and 'bytes_stats'
    {min, max, sum, n} of the exact per-statement estimates (the
    Dropwizard-snapshot signals the pow-2 buckets can't carry).

    ``session_factory`` is called once per partition ON THE EXECUTOR and must
    return an object with ``prepare(cql) -> stmt`` and
    ``execute_async(stmt, params) -> future`` (``future.result()`` awaited
    under the concurrency bound) — the cassandra-driver Session API.

    Batch runs are detected on the PARTITION key (the Cassandra routing key):
    rows sharing a partition but differing in clustering columns co-batch,
    matching the reference's W8 routing-key batching. The sort adds the
    clustering columns so runs are contiguous and writes within a partition
    arrive in clustering order.
    """
    pk = [c for c in schema.partition_key if c in routed.columns]
    sort_cols = pk + [
        c for c in schema.primary_key if c not in pk and c in routed.columns
    ]
    texts = statement_texts(table, schema)
    max_batch = config.max_number_of_records_in_batch
    max_inflight = config.max_concurrent_requests
    table_ref = table
    schema_ref = schema

    def write_partition(rows: Iterable) -> Iterator[tuple[int, int, int]]:
        session = session_factory()
        prepared = {kind: session.prepare(cql) for kind, cql in texts.items()}
        _apply_consistency(prepared, table_ref.consistency_level)
        futures: list = []

        def throttle() -> None:
            """Bound in-flight requests: await the oldest future once the
            window is full (W9 maxConcurrentRequests)."""
            while len(futures) >= max_inflight:
                futures.pop(0).result()

        size_hist: dict[int, int] = {}
        bytes_hist: dict[int, int] = {}
        bytes_stats = {"min": None, "max": None, "sum": 0, "n": 0}

        def submit(stmts: list[tuple[str, dict]]) -> tuple[int, int]:
            """One key-run → unlogged batch frames of ≤ max_batch; a chunk of
            one goes as a standalone EXECUTE. Returns (batch_frames, singles)
            and observes every frame into the bounded size histogram (KAF-99:
            a single EXECUTE is a frame of size 1) and every statement into
            the bytes histogram/stats.
            """
            batch_frames = singles = 0
            for i in range(0, len(stmts), max_batch):
                chunk = stmts[i : i + max_batch]
                throttle()
                if len(chunk) == 1:
                    kind, params = chunk[0]
                    fut = session.execute_async(prepared[kind], params)
                    singles += 1
                else:
                    fut = _submit_batch(
                        session,
                        [(prepared[k], p) for k, p in chunk],
                        table_ref.consistency_level,
                        counter=bool(schema_ref.counters),
                    )
                    batch_frames += 1
                size_hist[len(chunk)] = size_hist.get(len(chunk), 0) + 1
                for _kind, params in chunk:
                    nb = _estimate_statement_bytes(params)
                    bb = _pow2_bucket(nb)
                    bytes_hist[bb] = bytes_hist.get(bb, 0) + 1
                    bytes_stats["n"] += 1
                    bytes_stats["sum"] += nb
                    if bytes_stats["min"] is None or nb < bytes_stats["min"]:
                        bytes_stats["min"] = nb
                    if bytes_stats["max"] is None or nb > bytes_stats["max"]:
                        bytes_stats["max"] = nb
                futures.append(fut)
            return batch_frames, singles

        n_rows = n_batches = n_singles = 0
        run_key = object()
        run: list[tuple[str, dict]] = []
        for r in rows:
            row = r.asDict()
            key = tuple(row[c] for c in pk)
            if key != run_key and run:
                b, s = submit(run)
                n_batches += b
                n_singles += s
                run = []
            run_key = key
            run.append(_route_and_params(row, table_ref, schema_ref))
            n_rows += 1
        if run:
            b, s = submit(run)
            n_batches += b
            n_singles += s
        for fut in futures:
            fut.result()
        yield (n_rows, n_batches, n_singles, size_hist, bytes_hist, bytes_stats)

    parts = (
        routed.repartition(*[F.col(c) for c in pk])
        .sortWithinPartitions(*[F.col(c) for c in sort_cols])
        .rdd.mapPartitions(write_partition)
        .collect()
    )

    def _merge(idx: int) -> dict[int, int]:
        merged: dict[int, int] = {}
        for p in parts:
            for bucket, n in p[idx].items():
                merged[bucket] = merged.get(bucket, 0) + n
        return merged

    stats_parts = [p[5] for p in parts if p[5]["n"]]
    bytes_stats = {
        "min": min((p["min"] for p in stats_parts), default=None),
        "max": max((p["max"] for p in stats_parts), default=None),
        "sum": sum(p["sum"] for p in stats_parts),
        "n": sum(p["n"] for p in stats_parts),
    }
    return {
        "rows": sum(p[0] for p in parts),
        "batches": sum(p[1] for p in parts),
        "singles": sum(p[2] for p in parts),
        "batch_size_hist": _merge(3),
        "batch_bytes_hist": _merge(4),
        "bytes_stats": bytes_stats,
    }


# Reference's startup application name (CassandraSinkTask.java:41); the
# version string is the connector release the reference passes alongside it
# (LifeCycleManagerIT.java:63,89-90).
APPLICATION_NAME = "DataStax Apache Kafka Connector"

# Shortcut global → driver option it aliases (sample:236-238). An EXPLICIT
# shortcut wins over a datastax-java-driver.* passthrough of the same
# option; a defaulted shortcut must not clobber an explicit passthrough.
_SHORTCUT_OPTIONS = {
    "queryExecutionTimeout": "basic.request.timeout",
    "connectionPoolLocalSize": "advanced.connection.pool.local.size",
    "compression": "advanced.protocol.compression",
}

# HOCON duration units (typesafe-config HOCON spec §durations, the syntax the
# java driver accepts for datastax-java-driver.* passthrough values such as
# "30 seconds" / "1 minutes" / "500 ms") → seconds multiplier.
_DURATION_UNITS_S = {
    "ns": 1e-9, "nano": 1e-9, "nanos": 1e-9, "nanosecond": 1e-9, "nanoseconds": 1e-9,
    "us": 1e-6, "micro": 1e-6, "micros": 1e-6, "microsecond": 1e-6, "microseconds": 1e-6,
    "ms": 1e-3, "milli": 1e-3, "millis": 1e-3, "millisecond": 1e-3, "milliseconds": 1e-3,
    "s": 1.0, "second": 1.0, "seconds": 1.0,
    "m": 60.0, "minute": 60.0, "minutes": 60.0,
    "h": 3600.0, "hour": 3600.0, "hours": 3600.0,
    "d": 86400.0, "day": 86400.0, "days": 86400.0,
}


def _parse_duration_seconds(value, option: str) -> int:
    """Whole seconds from a shortcut int or a HOCON duration string.

    Shortcut values (``queryExecutionTimeout``) are plain second counts; a
    ``datastax-java-driver.*`` passthrough may instead use the java driver's
    duration syntax ("30 seconds", "1 minutes", "500 ms"), which the
    reference forwards verbatim (LifeCycleManagerIT passthrough contract).
    Sub-second durations round up to 1s (the settings consumer — metrics
    highest-latency = timeout+5s — works in whole seconds).
    """
    if isinstance(value, (int, float)):
        return int(value)
    text = str(value).strip()
    try:
        return int(text)
    except ValueError:
        pass
    import re as _re

    m = _re.fullmatch(r"([0-9]+(?:\.[0-9]+)?)\s*([a-zA-Z]+)", text)
    if m and m.group(2) in _DURATION_UNITS_S:
        seconds = float(m.group(1)) * _DURATION_UNITS_S[m.group(2)]
        return max(1, int(round(seconds)))
    raise ConfigError(
        f"{option}: cannot parse {text!r} as a duration — expected an "
        "integer second count or a java-driver duration string like "
        "'30 seconds', '1 minutes', '500 ms'"
    )


def build_session_settings(
    config: SinkConfig,
    version: str = "unknown",
    application_name: str = APPLICATION_NAME,
) -> dict:
    """Resolve a SinkConfig into the declarative session/execution-profile
    parameter set the reference's ``LifeCycleManager.buildCqlSession``
    produces (LifeCycleManagerIT.java:71-260 pins the observable surface):

    - ``basic.contact-points`` from the shortcut ``contactPoints``+``port``;
      a ``datastax-java-driver.basic.contact-points`` passthrough is IGNORED
      when the shortcut is present (LifeCycleManagerIT.java:213-217);
    - contact points stay UNRESOLVED host strings when
      ``ssl.hostnameValidation=false`` and are marked for resolution
      otherwise (LifeCycleManagerIT.java:71-197: endPoint.resolve()
      isUnresolved iff validation is off);
    - defaults the IT reads off the default profile: request timeout 30 s,
      pool local size 4, compression "None", metrics session enabled
      ``cql-client-timeouts``+``cql-requests`` at a 30 s interval, node
      cql-messages highest latency = request timeout + 5 s
      (LifeCycleManagerIT.java:241-260);
    - every ``datastax-java-driver.*`` key passes through verbatim
      (LifeCycleManagerIT.java:199-237);
    - startup identification: application name/version + a non-null client
      id (LifeCycleManagerIT.java:263-291);
    - auth/ssl/cloud sections from the sample's option surface, with the
      PLAIN inference and CL clamping already applied by parse_sink_config.
    """
    import uuid

    settings: dict = {}
    # Passthrough first; explicit shortcuts overwrite below only when the
    # reference documents them as the alias of that driver option.
    for k, v in config.driver_settings.items():
        if k == "basic.contact-points":
            continue  # shortcut contactPoints always present → prefix ignored
        settings[k] = v
    for shortcut, option in _SHORTCUT_OPTIONS.items():
        if shortcut in config.explicit_globals or option not in settings:
            settings[option] = {
                "queryExecutionTimeout": config.query_execution_timeout_s,
                "connectionPoolLocalSize": config.connection_pool_local_size,
                "compression": config.compression,
            }[shortcut]
    # Normalize passthrough-typed values for the options we interpret.
    settings["basic.request.timeout"] = _parse_duration_seconds(
        settings["basic.request.timeout"], option="basic.request.timeout"
    )
    settings["advanced.connection.pool.local.size"] = int(
        settings["advanced.connection.pool.local.size"]
    )
    settings["basic.contact-points"] = [
        f"{host}:{config.port}" for host in config.contact_points
    ]
    if config.local_dc:
        settings["basic.load-balancing-policy.local-datacenter"] = config.local_dc
    settings.setdefault(
        "advanced.metrics.session.enabled", ["cql-client-timeouts", "cql-requests"]
    )
    settings.setdefault("advanced.metrics.session.cql-requests.interval", 30)
    settings.setdefault(
        "advanced.metrics.node.cql-messages.highest-latency",
        settings["basic.request.timeout"] + 5,
    )
    settings["application"] = {
        "name": application_name,
        "version": version,
        "client_id": str(uuid.uuid4()),
    }
    settings["auth"] = {
        "provider": config.auth_provider,
        "username": config.auth_username,
        "password": config.auth_password,
        "gssapi_key_tab": config.auth_gssapi_key_tab,
        "gssapi_principal": config.auth_gssapi_principal,
        "gssapi_service": config.auth_gssapi_service,
    }
    settings["ssl"] = {
        "provider": config.ssl_provider,
        "hostname_validation": config.ssl_hostname_validation,
        "resolve_contact_points": config.ssl_hostname_validation,
        "cipher_suites": list(config.ssl_cipher_suites),
        "keystore_path": config.ssl_keystore_path,
        "keystore_password": config.ssl_keystore_password,
        "truststore_path": config.ssl_truststore_path,
        "truststore_password": config.ssl_truststore_password,
        "openssl_key_cert_chain": config.ssl_openssl_key_cert_chain,
        "openssl_private_key": config.ssl_openssl_private_key,
    }
    if config.secure_connect_bundle:
        settings["advanced.cloud.secure-connect-bundle"] = config.secure_connect_bundle
    return settings


def _kerberos_auth_provider():  # pragma: no cover - needs optional package
    """Kerberos provider for the production transport, resolved lazily.

    The python driver's GSSAPI support lives in the optional DSE extras
    (``DSEGSSAPIAuthProvider``, backed by ``puresasl[gssapi]``); unlike the
    java driver it takes no keytab parameter — the keytab is activated via
    the standard ``KRB5_KTNAME`` mechanism. Returns a factory with the
    (service, principal, keytab) signature ``cassandra_session_factory``
    calls, or raises ``ConfigError`` naming the missing optional package so
    auth.provider=GSSAPI fails with a clear message instead of an
    AttributeError at session-build time.
    """
    try:
        from cassandra.auth import DSEGSSAPIAuthProvider  # type: ignore
    except ImportError as exc:
        raise ConfigError(
            "auth.provider=GSSAPI requires the optional Kerberos support of "
            "the cassandra-driver package (cassandra.auth.DSEGSSAPIAuthProvider, "
            "backed by 'puresasl[gssapi]'); install 'cassandra-driver' with "
            f"'pure-sasl' to enable it ({exc})"
        ) from exc

    def provider(service=None, principal=None, keytab=None):
        if keytab:
            # python-side GSSAPI reads the keytab from the environment
            # (MIT krb5 client keytab); the java driver takes it directly.
            import os

            os.environ.setdefault("KRB5_CLIENT_KTNAME", keytab)
        kwargs = {}
        if service:
            kwargs["service"] = service
        if principal:
            kwargs["principal"] = principal
        return DSEGSSAPIAuthProvider(**kwargs)

    return provider


# HTTP(S) secure-connect bundles downloaded by the session factory, keyed by
# URL. The factory runs once per session construction (per executor process);
# without a cache each call would leak one temp zip holding the client TLS
# private key. Files are 0600 and removed at interpreter exit.
_BUNDLE_CACHE: dict[str, str] = {}


def _materialize_bundle(url: str) -> str:
    """Fetch+validate an HTTP(S) secure-connect bundle to a local zip path,
    once per URL per process (CloudSniEndToEndIT.java:152-168 drives the
    URL form). The zip contains the client private key, so the temp file is
    created 0600 and registered for cleanup at exit."""
    import atexit
    import os
    import tempfile

    cached = _BUNDLE_CACHE.get(url)
    if cached is not None and os.path.exists(cached):
        return cached

    from kafka_sink_spark.cloud import fetch_secure_bundle, parse_secure_bundle

    raw = fetch_secure_bundle(url)
    parse_secure_bundle(raw)  # reject corrupt downloads early
    fd, path = tempfile.mkstemp(suffix=".zip", prefix="scb-")
    try:
        os.fchmod(fd, 0o600)
        os.write(fd, raw)
    finally:
        os.close(fd)

    def _cleanup(p=path):
        try:
            os.unlink(p)
        except OSError:
            pass

    atexit.register(_cleanup)
    _BUNDLE_CACHE[url] = path
    return path


def _real_driver():  # pragma: no cover - needs optional package
    """The production transport: the ``cassandra-driver`` package surfaced
    as the namespace-of-classes interface the factory consumes. Tests
    inject a fake with the same attributes instead."""
    import types

    from cassandra.auth import PlainTextAuthProvider  # type: ignore
    from cassandra.cluster import (  # type: ignore
        EXEC_PROFILE_DEFAULT,
        Cluster,
        ExecutionProfile,
    )
    from cassandra.policies import (  # type: ignore
        DCAwareRoundRobinPolicy,
        TokenAwarePolicy,
    )

    class _LazyKerberos:
        """Defers the optional-import error to first GSSAPI use."""

        def __call__(self, **kwargs):
            return _kerberos_auth_provider()(**kwargs)

    return types.SimpleNamespace(
        Cluster=Cluster,
        ExecutionProfile=ExecutionProfile,
        EXEC_PROFILE_DEFAULT=EXEC_PROFILE_DEFAULT,
        PlainTextAuthProvider=PlainTextAuthProvider,
        KerberosAuthProvider=_LazyKerberos(),
        DCAwareRoundRobinPolicy=DCAwareRoundRobinPolicy,
        TokenAwarePolicy=TokenAwarePolicy,
    )


def cassandra_session_factory(
    config: SinkConfig,
    version: str = "unknown",
    application_name: str = APPLICATION_NAME,
    driver=None,
) -> Callable[[], object]:
    """Session factory from the connector config via the resolved settings
    of :func:`build_session_settings`.

    ``driver`` is the transport namespace (``Cluster``, policies, auth
    provider classes); it defaults to the real ``cassandra-driver`` package
    at call time, and tests inject a fake to pin the exact constructor
    parameters without a live cluster (the LifeCycleManagerIT surface).
    """
    settings = build_session_settings(config, version, application_name)

    def factory() -> object:
        drv = driver if driver is not None else _real_driver()
        kwargs: dict = {"port": config.port}
        if "advanced.cloud.secure-connect-bundle" in settings:
            # Cloud mode: the bundle supplies endpoints + SSL; contact
            # points must not be passed (CloudSniEndToEndIT.java:92-133).
            # An HTTP(S) bundle URL (CloudSniEndToEndIT.java:152-168) is
            # fetched+validated to a local temp file, since the driver
            # wants a filesystem path.
            location = settings["advanced.cloud.secure-connect-bundle"]
            if location.startswith(("http://", "https://")):
                location = _materialize_bundle(location)
            kwargs["cloud"] = {"secure_connect_bundle": location}
            # SNI routing from the bundle owns endpoint selection; never
            # pass a load_balancing_policy alongside it (parse_sink_config
            # rejects loadBalancing.localDc with a bundle, so local_dc is
            # None here for any config that parsed — this guard is belt
            # and braces for hand-built SinkConfig objects).
        else:
            kwargs["contact_points"] = list(config.contact_points)
            if config.local_dc:
                kwargs["load_balancing_policy"] = drv.TokenAwarePolicy(
                    drv.DCAwareRoundRobinPolicy(local_dc=config.local_dc)
                )
        auth = settings["auth"]
        if auth["provider"] == "PLAIN":
            kwargs["auth_provider"] = drv.PlainTextAuthProvider(
                username=auth["username"], password=auth["password"]
            )
        elif auth["provider"] == "GSSAPI":
            # The python driver's kerberos provider lives in a separate
            # optional package (pure-sasl); surface it via the injected
            # transport namespace so the mapping stays testable.
            kwargs["auth_provider"] = drv.KerberosAuthProvider(
                service=auth["gssapi_service"],
                principal=auth["gssapi_principal"],
                keytab=auth["gssapi_key_tab"],
            )
        compression = settings["advanced.protocol.compression"]
        kwargs["compression"] = (
            False if compression == "None" else compression.lower()
        )
        profile_kwargs = {
            "request_timeout": settings["basic.request.timeout"],
        }
        if "basic.request.consistency" in settings:
            profile_kwargs["consistency_level"] = settings[
                "basic.request.consistency"
            ]
        default_key = getattr(drv, "EXEC_PROFILE_DEFAULT", "default")
        kwargs["execution_profiles"] = {
            default_key: drv.ExecutionProfile(**profile_kwargs)
        }
        cluster = drv.Cluster(**kwargs)
        session = cluster.connect()
        return session

    return factory
