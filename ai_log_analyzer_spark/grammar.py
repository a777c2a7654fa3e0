"""Deterministic synthetic Common-Crawl-style pages table (FIXTURES.md F1/F2).

Generates the input contract's table ``(url, warc_ts, html, text, lang)``
where ``text`` carries one synthetic log event rendered from a fixed
template grammar — mirroring the reference consuming one log line per
record (/root/reference/ailoganalyzer/dataset/dataset.py:129-131).

Everything is seeded (numpy PCG64, seed=42 by default): same seed + size
→ byte-identical table, so goldens are stable across runs/machines.
Template frequencies are Zipf(a=1.3) → skewed hot templates, exercising
the salting / AQE-skew path (SURVEY.md §4).

Per-row ground truth (template index + param values) is kept alongside,
giving the byte-identity invariant a generator-level referee in addition
to the oracle parser.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import List

import numpy as np
import pandas as pd

SEED = 42

HOSTS = [f"host{i:02d}" for i in range(16)]
TLDS = ["com", "org", "net", "de", "fr", "cn"]
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_WEIGHTS = np.array([0.55, 0.15, 0.12, 0.10, 0.08])

WORDS = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi",
         "ivan", "judy", "mallory", "oscar", "peggy", "sybil", "trent", "walter"]
SERVICES = ["auth", "hdfs", "nginx", "kafka", "etcd", "redis", "sched", "api"]
DEVICES = ["eth0", "eth1", "lo", "wlan0", "bond0"]
LEVELS = ["INFO", "WARN", "ERROR", "DEBUG"]

# ~40 templates; slots: {IP} {NUM} {HEX} {WORD} {SVC} {DEV} {LVL}
TEMPLATES: List[str] = [
    "Connection from {IP} port {NUM} closed",
    "Connection from {IP} port {NUM} accepted",
    "User {WORD} logged in from {IP} in {NUM} ms",
    "User {WORD} logged out after {NUM} seconds",
    "Failed password for {WORD} from {IP} port {NUM}",
    "Block blk_{NUM} replicated to {IP}:{NUM}",
    "Block blk_{NUM} corrupted on datanode {IP}",
    "Received block blk_{NUM} of size {NUM} from {IP}",
    "Deleting block blk_{NUM} file /data/{WORD}/blk_{NUM}",
    "Failed to allocate {NUM} bytes for request {HEX}",
    "Allocated {NUM} bytes at address {HEX} for {SVC}",
    "Request {HEX} completed with status {NUM} in {NUM} ms",
    "Request {HEX} timed out after {NUM} ms",
    "Service {SVC} started on port {NUM}",
    "Service {SVC} stopped with exit code {NUM}",
    "Service {SVC} restarted by {WORD} at attempt {NUM}",
    "Health check for {SVC} returned {NUM}",
    "Interface {DEV} link up at {NUM} Mbps",
    "Interface {DEV} link down",
    "Packet loss on {DEV} reached {NUM} percent",
    "DHCP lease for {IP} renewed for {NUM} seconds",
    "DNS lookup for {WORD}.example.{WORD} took {NUM} ms",
    "TLS handshake with {IP} failed code {HEX}",
    "TLS session {HEX} established with {IP}",
    "Cache {SVC} hit ratio {NUM} over {NUM} requests",
    "Cache eviction of {NUM} entries in shard {NUM}",
    "GC pause of {NUM} ms in generation {NUM}",
    "Heap usage {NUM} of {NUM} bytes for {SVC}",
    "Thread pool {SVC} queue depth {NUM} exceeds {NUM}",
    "Disk {DEV} usage at {NUM} percent",
    "Snapshot {HEX} written with {NUM} files",
    "Snapshot {HEX} restore failed at file {NUM}",
    "Leader election won by node {IP} term {NUM}",
    "Replica lag on {SVC} is {NUM} ms behind {IP}",
    "Checkpoint {NUM} committed for job {WORD}",
    "Job {WORD} submitted by {WORD} with priority {NUM}",
    "Job {WORD} failed with error {HEX} after {NUM} retries",
    "Quota exceeded for user {WORD} limit {NUM}",
    "Audit {LVL} action {WORD} by {WORD} from {IP}",
    "Metric {SVC}.{WORD} value {NUM} above threshold {NUM}",
]

ZIPF_A = 1.3
BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _zipf_probs(n: int, a: float = ZIPF_A) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


def _render(tmpl: str, rng: np.random.Generator) -> tuple[str, List[str]]:
    out, params = [], []
    i = 0
    while i < len(tmpl):
        if tmpl[i] == "{":
            j = tmpl.index("}", i)
            slot = tmpl[i + 1:j]
            if slot == "IP":
                v = ".".join(str(rng.integers(1, 255)) for _ in range(4))
            elif slot == "NUM":
                v = str(int(rng.integers(0, 100000)))
            elif slot == "HEX":
                v = "0x" + format(int(rng.integers(0, 2**32)), "08x")
            elif slot == "WORD":
                v = WORDS[int(rng.integers(0, len(WORDS)))]
            elif slot == "SVC":
                v = SERVICES[int(rng.integers(0, len(SERVICES)))]
            elif slot == "DEV":
                v = DEVICES[int(rng.integers(0, len(DEVICES)))]
            elif slot == "LVL":
                v = LEVELS[int(rng.integers(0, len(LEVELS)))]
            else:
                raise ValueError(slot)
            out.append(v)
            params.append(v)
            i = j + 1
        else:
            out.append(tmpl[i])
            i += 1
    return "".join(out), params


def generate_pages(n_rows: int, seed: int = SEED) -> pd.DataFrame:
    """Deterministic pages table as a pandas DataFrame (small scales).

    Columns: url, warc_ts, html, text, lang, host, seq_no,
    true_template, true_params — the last four are generator ground
    truth, dropped before the table is handed to the engine.
    """
    rng = np.random.default_rng(seed)
    probs = _zipf_probs(len(TEMPLATES))
    tmpl_idx = rng.choice(len(TEMPLATES), size=n_rows, p=probs)
    host_idx = rng.integers(0, len(HOSTS), size=n_rows)
    tld_idx = rng.integers(0, len(TLDS), size=n_rows)
    lang_idx = rng.choice(len(LANGS), size=n_rows, p=LANG_WEIGHTS)
    step_us = rng.integers(1000, 2_000_000, size=n_rows)

    rows = []
    seq_per_host = {h: 0 for h in HOSTS}
    ts = BASE_TS
    for i in range(n_rows):
        text, params = _render(TEMPLATES[tmpl_idx[i]], rng)
        host = HOSTS[host_idx[i]]
        seq = seq_per_host[host]
        seq_per_host[host] = seq + 1
        ts = ts + timedelta(microseconds=int(step_us[i]))
        url = f"https://{host}.example.{TLDS[tld_idx[i]]}/p/{i}"
        rows.append((url, ts, b"<html><body><pre>" + text.encode() + b"</pre></body></html>",
                     text, LANGS[lang_idx[i]], host, seq, int(tmpl_idx[i]), params))
    return pd.DataFrame(rows, columns=[
        "url", "warc_ts", "html", "text", "lang", "host", "seq_no",
        "true_template", "true_params"])


def render_rows(ids: np.ndarray, seed: int = SEED,
                n_hosts: int = len(HOSTS)) -> pd.DataFrame:
    """PER-ROW deterministic page rendering: row ``i``'s content is a
    pure function of (seed, i), independent of batching/partitioning —
    the kernel behind the DISTRIBUTED generator (sources/pages.py).
    seq_no == id (globally ordered), host/lang/template drawn from a
    per-row PCG64 stream."""
    probs = _zipf_probs(len(TEMPLATES))
    cum = np.cumsum(probs)
    lang_cum = np.cumsum(LANG_WEIGHTS)
    out = {k: [] for k in ["url", "warc_ts", "html", "text", "lang",
                           "host", "seq_no"]}
    for i in ids:
        i = int(i)
        rng = np.random.Generator(np.random.PCG64(seed * 1_000_003 + i))
        u = rng.random(3)
        tmpl = int(np.searchsorted(cum, u[0]))
        h = int(u[1] * n_hosts)
        host = HOSTS[h] if n_hosts <= len(HOSTS) else f"host{h:05d}"
        lang = LANGS[int(np.searchsorted(lang_cum, u[2]))]
        tld = TLDS[i % len(TLDS)]
        text, _params = _render(TEMPLATES[tmpl], rng)
        ts = BASE_TS + timedelta(seconds=i, microseconds=int(rng.integers(0, 1_000_000)))
        out["url"].append(f"https://{host}.example.{tld}/p/{i}")
        out["warc_ts"].append(ts)
        out["html"].append(b"<html><body><pre>" + text.encode() + b"</pre></body></html>")
        out["text"].append(text)
        out["lang"].append(lang)
        out["host"].append(host)
        out["seq_no"].append(i)
    return pd.DataFrame(out)
