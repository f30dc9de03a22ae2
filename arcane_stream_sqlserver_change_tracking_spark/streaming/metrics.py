"""Pluggable batch-metrics emitters (A2 tail — ops parity).

The reference wires ``DeclaredMetrics`` through a DataDog statsd
publisher over a Unix domain socket (main.scala:111,115-116
``DataDog.UdsPublisher.layer``) and stamps every metric with the
CRD's ``observability.metricTags`` (docs/crd.md:33-37) plus the
stream id. This module is that last mile for the Spark engine: the
engine already produces a :class:`~.runner.BatchResult` per applied
batch; emitters here turn each result into statsd datagrams / JSON
lines / callback invocations.

* :class:`StatsdEmitter` — DogStatsD line format
  (``name:value|type|#tag:v,...``) over a datagram socket: UDP
  (``host:port``) or UDS (``unix:///path``, the reference's
  transport). Datagrams are fire-and-forget: a dead collector must
  never stall or fail the stream, so socket errors are swallowed by
  design (statsd's own contract).
* :class:`JsonlEmitter` — one JSON line per batch to a local file
  (the engine's default since round 2; now an emitter like any
  other).
* :class:`CallbackEmitter` — hands each (name, value, kind, tags)
  to a Python callable; the test double and the embedding hook.

Metric names are stable contract::

    cdc.batch.rows_in            counter  rows entering dedup
    cdc.batch.rows_applied       counter  rows after net-change dedup
    cdc.batch.touched_buckets    gauge    bucket fan-out of the merge
    cdc.batch.version            gauge    high watermark after commit
    cdc.batch.prepare_ms         timer    dedup/normalize + stats job
    cdc.batch.commit_ms          timer    merge write + atomic commit
    cdc.batch.apply_ms           timer    end-to-end batch latency
    cdc.batch.skipped            counter  a retry found its batch already
                                          committed (nothing to apply)

Every datagram carries the configured global tags (metricTags parity)
plus ``batch_seq``.
"""

from __future__ import annotations

import json
import socket
from collections.abc import Callable, Mapping
from typing import Any

#: statsd metric kinds
COUNT = "c"
GAUGE = "g"
TIMER = "ms"


class MetricsEmitter:
    """Interface: one call per metric point, one ``close()`` at end."""

    def emit(self, name: str, value: float, kind: str,
             tags: Mapping[str, str]) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def close(self) -> None:
        pass


class StatsdEmitter(MetricsEmitter):
    """DogStatsD datagrams over UDP or a Unix domain socket.

    ``address``: ``"host:port"`` (UDP) or ``"unix:///run/datadog.sock"``
    (UDS — the reference's DataDog.UdsPublisher transport).
    ``global_tags`` mirror the CRD's ``observability.metricTags``:
    stamped on every metric emitted by the stream.
    """

    def __init__(self, address: str, global_tags: Mapping[str, str] | None = None,
                 prefix: str = "cdc."):
        self.prefix = prefix
        self.global_tags = dict(global_tags or {})
        if address.startswith("unix://"):
            self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_DGRAM)
            self._target: Any = address[len("unix://"):]
        else:
            # "host", "host:port", or bare "port" — misconfig must fail
            # AT CONSTRUCTION with a message naming the field, not as an
            # int() traceback (and never at emit time: datagrams are
            # fire-and-forget once the socket exists)
            host, _, port = address.rpartition(":")
            if not host:  # no colon: a host with the default statsd port
                host, port = (port, "") if not port.isdigit() else ("", port)
            try:
                port_num = int(port) if port else 8125
            except ValueError:
                raise ValueError(
                    f"statsd address {address!r} is not host[:port], "
                    "port[:digits], or unix:///path"
                ) from None
            self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            self._target = (host or "127.0.0.1", port_num)

    def format(self, name: str, value: float, kind: str,
               tags: Mapping[str, str]) -> bytes:
        merged = {**self.global_tags, **tags}
        v = int(value) if float(value).is_integer() else value
        line = f"{self.prefix}{name}:{v}|{kind}"
        if merged:
            line += "|#" + ",".join(f"{k}:{merged[k]}" for k in sorted(merged))
        return line.encode()

    def emit(self, name: str, value: float, kind: str,
             tags: Mapping[str, str]) -> None:
        try:
            self._sock.sendto(self.format(name, value, kind, tags), self._target)
        except OSError:
            # fire-and-forget: metrics must never take down the stream
            pass

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


class JsonlEmitter(MetricsEmitter):
    """One JSON line per metric point, appended to a local file.

    The file handle is opened lazily and held until ``close()`` —
    a batch fans out ~8 points, so per-point open/close would pay
    thousands of redundant syscall round-trips over a long replay."""

    def __init__(self, path: str):
        self.path = path
        self._f: Any = None

    def emit(self, name: str, value: float, kind: str,
             tags: Mapping[str, str]) -> None:
        if self._f is None:
            self._f = open(self.path, "a")
        self._f.write(json.dumps(
            {"metric": name, "value": value, "kind": kind, "tags": dict(tags)}
        ) + "\n")
        self._f.flush()

    def close(self) -> None:
        if self._f is not None:
            self._f.close()
            self._f = None


class CallbackEmitter(MetricsEmitter):
    def __init__(self, fn: Callable[[str, float, str, dict[str, str]], None]):
        self.fn = fn

    def emit(self, name: str, value: float, kind: str,
             tags: Mapping[str, str]) -> None:
        self.fn(name, value, kind, dict(tags))


def emit_batch_result(emitters: list[MetricsEmitter], result: Any) -> None:
    """Fan one BatchResult out as the declared metric set."""
    tags = {"batch_seq": str(result.batch_seq)}
    points = [
        ("batch.rows_in", result.rows_in, COUNT),
        ("batch.rows_applied", result.rows_deduped, COUNT),
        ("batch.touched_buckets", result.touched_buckets, GAUGE),
        ("batch.version", result.max_version, GAUGE),
        ("batch.prepare_ms", round(result.prepare_seconds * 1000, 3), TIMER),
        ("batch.commit_ms", round(result.commit_seconds * 1000, 3), TIMER),
        ("batch.apply_ms", round(result.apply_seconds * 1000, 3), TIMER),
    ]
    if result.skipped:
        points.append(("batch.skipped", 1, COUNT))
    for emitter in emitters:
        for name, value, kind in points:
            emitter.emit(name, float(value), kind, tags)
