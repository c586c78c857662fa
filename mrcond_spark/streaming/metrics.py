"""Engine metrics registry (SURVEY §2.1 R12).

The five series mirror the reference's Prometheus metrics
(`mrcon/src/metrics.rs:28-112`, names documented in METRICS.md), renamed
``mrcon_*`` -> ``engine_*``:

- engine_servers_started_total            counter
- engine_running_servers_total            gauge
- engine_collection_running_servers       gauge,   label: collection
- engine_server_restarts_total            counter, labels: collection, reason
- engine_failures_total                   counter, labels: collection, error_type

Hand-rolled registry (no client-lib dependency) with Prometheus text
exposition (`metrics.rs:206-212` equivalent). Label values are escaped as
the text format requires: a MongoDB collection name may hold ``"`` or ``\\``.
"""

from __future__ import annotations

import threading
from collections import defaultdict


def _label(value: str) -> str:
    """A label value escaped for the Prometheus text format."""
    return value.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


class Metrics:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.servers_started_total = 0
        self.running_servers_total = 0
        self.collection_running: dict[str, int] = defaultdict(int)
        self.restarts: dict[tuple[str, str], int] = defaultdict(int)
        self.failures: dict[tuple[str, str], int] = defaultdict(int)

    # --- recording API (metrics.rs:115-203 equivalents) ---
    def record_server_started(self, collection: str) -> None:
        with self._lock:
            self.servers_started_total += 1
            self.running_servers_total += 1
            self.collection_running[collection] += 1

    def record_server_stopped(self, collection: str) -> None:
        with self._lock:
            self.running_servers_total = max(self.running_servers_total - 1, 0)
            self.collection_running[collection] = max(self.collection_running[collection] - 1, 0)

    def record_restart(self, collection: str, reason: str) -> None:
        with self._lock:
            self.restarts[(collection, reason)] += 1

    def record_failure(self, collection: str, error_type: str) -> None:
        with self._lock:
            self.failures[(collection, error_type)] += 1

    # --- exposition ---
    def export(self) -> str:
        with self._lock:
            lines = [
                "# TYPE engine_servers_started_total counter",
                f"engine_servers_started_total {self.servers_started_total}",
                "# TYPE engine_running_servers_total gauge",
                f"engine_running_servers_total {self.running_servers_total}",
                "# TYPE engine_collection_running_servers gauge",
            ]
            for coll, n in sorted(self.collection_running.items()):
                lines.append(
                    f'engine_collection_running_servers{{collection="{_label(coll)}"}} {n}'
                )
            lines.append("# TYPE engine_server_restarts_total counter")
            for (coll, reason), n in sorted(self.restarts.items()):
                lines.append(
                    f'engine_server_restarts_total{{collection="{_label(coll)}",'
                    f'reason="{_label(reason)}"}} {n}'
                )
            lines.append("# TYPE engine_failures_total counter")
            for (coll, et), n in sorted(self.failures.items()):
                lines.append(
                    f'engine_failures_total{{collection="{_label(coll)}",'
                    f'error_type="{_label(et)}"}} {n}'
                )
            return "\n".join(lines) + "\n"
