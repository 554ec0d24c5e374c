"""Download step (reference S1-S5, building-inspector.js:14-89,
337-369): pull the three GeoJSON datasets into a local landing dir.

Design notes (SURVEY section 2.1): pagination is inherently sequential
-- the stop condition (first page with no features) depends on page n,
so this stays OFF-cluster, on the driver, exactly like the reference's
single Node event loop. Spark's involvement starts at the landed JSONL
files. What changes vs the reference:

  * pages land as JSONL (one feature per line) instead of one giant
    FeatureCollection doc (S5) -> the subsequent scan is splittable;
  * the landing dir is idempotent: a completed dataset (marked with a
    .done file) is not re-downloaded (the reference re-downloads
    everything each run, SURVEY section 4);
  * retry/backoff replaces GOT_OPTIONS {timeout: 25s, retries: 5}
    (building-inspector.js:14-18); the 1000 ms politeness throttle is
    kept (:64, :39-42).

The HTTP layer is injectable (fetch_json callable) so tests and
air-gapped environments never touch the network; the default uses
urllib from the standard library.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from urllib.request import urlopen

FetchJson = Callable[[str], dict]

DEFAULT_TIMEOUT_S = 25.0  # GOT_OPTIONS.timeout (building-inspector.js:15)
DEFAULT_RETRIES = 5  # GOT_OPTIONS.retries (:16)
DEFAULT_SLEEP_S = 1.0  # page throttle (:64)


def _default_fetch(url: str) -> dict:
    with urlopen(url, timeout=DEFAULT_TIMEOUT_S) as resp:  # noqa: S310
        return json.load(resp)


def fetch_with_retry(
    url: str,
    fetch_json: FetchJson = _default_fetch,
    retries: int = DEFAULT_RETRIES,
    backoff_s: float = 1.0,
) -> dict:
    """S3: bounded retries with linear backoff."""
    last: Exception | None = None
    for attempt in range(retries + 1):
        try:
            return fetch_json(url)
        except Exception as e:  # noqa: BLE001
            last = e
            if attempt < retries:
                time.sleep(backoff_s * (attempt + 1))
    raise RuntimeError(f"download failed after {retries + 1} attempts: {url}") from last


def _seq_line(feat: dict, seq: int) -> str:
    """One landed JSONL line. `_seq` (download arrival order) is
    embedded IN the line: Spark plans split files and list directories
    in non-contractual order, so read-side monotonically_increasing_id
    cannot guarantee reference file-order semantics for keep-first
    dedup (D1/D2). An explicit column can (VERDICT r01 item 4)."""
    return json.dumps({"_seq": seq, **feat}, separators=(",", ":")) + "\n"


def download_paginated(
    base_url: str,
    out_path: str,
    fetch_json: FetchJson = _default_fetch,
    sleep_s: float = DEFAULT_SLEEP_S,
) -> int:
    """S1: GET {base_url}/page/{n} from n=1; stop on the first page with
    empty/missing `features` (building-inspector.js:58-79). Features
    append to out_path as JSONL with an `_seq` arrival-order column
    from 0. Returns feature count."""
    n_features = 0
    page = 1
    with open(out_path, "w") as out:
        while True:
            doc = fetch_with_retry(f"{base_url}/page/{page}", fetch_json)
            feats = doc.get("features") or []
            if not feats:
                break
            for feat in feats:
                out.write(_seq_line(feat, n_features))
                n_features += 1
            page += 1
            time.sleep(sleep_s)  # S2 politeness throttle
    return n_features


def download_unpaginated(
    url: str,
    out_path: str,
    fetch_json: FetchJson = _default_fetch,
    seq_start: int = 0,
) -> int:
    """S4: single-document fetch -> JSONL (the reference pipes the raw
    body to disk, :84-89; we row-ise it on the way down, stamping
    `_seq` arrival order)."""
    doc = fetch_with_retry(url, fetch_json)
    feats = doc.get("features") or []
    with open(out_path, "w") as out:
        for i, feat in enumerate(feats):
            out.write(_seq_line(feat, seq_start + i))
    return len(feats)


def download(
    landing_dir: str,
    base_url: str = "https://buildinginspector.nypl.org/api",
    fetch_json: FetchJson = _default_fetch,
    sleep_s: float = DEFAULT_SLEEP_S,
) -> dict[str, str]:
    """The reference's `download` step (building-inspector.js:337-369):
    consolidated (paginated) + toponyms + sheets (unpaginated),
    strictly sequential, idempotent per dataset."""
    os.makedirs(landing_dir, exist_ok=True)
    paths: dict[str, str] = {}
    datasets = [
        ("consolidated", f"{base_url}/consolidated", True),
        ("toponyms", f"{base_url}/toponyms", False),
        ("sheets", f"{base_url}/sheets", False),
    ]
    for name, url, paginated in datasets:
        out_path = os.path.join(landing_dir, f"{name}.jsonl")
        done = out_path + ".done"
        paths[name] = out_path
        if os.path.exists(done):
            continue
        if paginated:
            download_paginated(url, out_path, fetch_json, sleep_s)
        else:
            download_unpaginated(url, out_path, fetch_json)
        with open(done, "w") as f:
            f.write("ok\n")
    return paths
