"""Regenerate archive_query_log_spark/data/crawl_goldens.json — the frozen
oracle for the end-to-end crawl entries (crawl_digest_3round,
crawl_seen_set, crawl_pipeline_round): a PURE-PYTHON twin of the full
stateful pipeline, no Spark anywhere.

The twin independently re-derives every stage of crawler/pipeline.run_round
over the exact entry fixture (synth_frontier(1000, 200) / synth_images(200)
/ synth_robots(), budget_waves=8) for a 3-round run whose re-poll clock
moves between rounds (T1, T2, T2 with T2 − T1 > 4 weeks), so the REFRESH
path — stale re-polls bypassing the seen set — is exercised and frozen:

  frontier synthesis   md5-based column math (synth.py) in hashlib/float64
  candidates           pending ∧ valid-URL ∧ status-200 gates
  worklist state       id → max(fetched_at) fold of the twin's own fetch
                       log (never-fetched = new; fetched & older than
                       4 weeks vs the round clock = refresh)
  url_key              SURT canonicalization (host reverse, tracking-param
                       strip, param sort) re-implemented on urllib-free
                       regex/string steps
  first-seen dedup     min-by (ts, id) per url_key within each batch
  seen-set             exact membership (the Bloom path is provably equal
                       — zero false negatives, FPs re-checked exactly)
  robots               longest-prefix rule pick incl. the tie comparator
                       (disallow first, then larger delay)
  politeness waves     per-host sort by (score desc, url_key asc), budget
                       cut at 8 waves (the score-bucket plan is proven equal)
  fetch + validate     codec.validate_row over the twin-built payloads
  metrics              per-(round, xxhash64(host) mod 32 bucket) rollup —
                       the XXH64 here is an independent pure-Python
                       implementation checked against Spark in tests

The leaf byte-math (codec) is shared with the engine — the twin pattern of
img_decode_validate — while ALL distributed orchestration (joins, windows,
anti-joins, budget, state commits/replay reads) is re-derived; a bug in
either side breaks the driver's hash gate.

Reference semantics frozen here: captures/__init__.py:163-197 (scored
worklist + create-if-absent seen), config.py:157-167 (politeness),
captures/__init__.py:28 (4-week refetch window).

Usage: python tools/make_crawl_goldens.py [--check]
  --check: regenerate in memory and diff against the committed file
           (exit 1 on any byte difference).
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
import uuid
from datetime import datetime, timedelta
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from archive_query_log_spark.crawler import codec  # noqa: E402
from archive_query_log_spark.functions.ids import (  # noqa: E402
    NAMESPACE_CAPTURE,
)
from archive_query_log_spark.functions.urls import (  # noqa: E402
    TRACKING_PARAMS,
)

# the entry fixture (entry_queries crawl_* entries use exactly these)
N_FRONTIER = 1000
N_IMAGES = 200
BUDGET_WAVES = 8
N_BUCKETS = 32
N_HOSTS = 50
HOT_HOST_SHARE = 0.30
DUP_SHARE = 0.05
IMG_W = IMG_H = 32
CDX_API = "https://archive.example.org/cdx"
REFETCH_DAYS = 28  # 4 weeks, captures/__init__.py:28
T1 = "2024-02-01 00:00:00"
T2 = "2024-03-15 00:00:00"  # T2 - T1 = 43 days > 28 → round-0 rows stale
NOWS = [T1, T2, T2]

OUT_PATH = (
    Path(__file__).resolve().parent.parent
    / "archive_query_log_spark"
    / "data"
    / "crawl_goldens.json"
)

_M64 = (1 << 64) - 1


# --- deterministic column math (float64 ops in Spark's exact order) --------


def _md5_rand(val, seed: int) -> float:
    h = hashlib.md5(f"{seed}:{val}".encode()).hexdigest()
    return int(h[:8], 16) / 4294967296.0

def _md5_idx(prefix: str, val) -> int:
    return int(hashlib.md5(f"{prefix}{val}".encode()).hexdigest()[:8], 16)

def _saturation(x: float, pivot: float = 10.0) -> float:
    return x / (x + pivot)


def _url_key(url: str) -> str:
    """SURT twin of functions/urls.url_key (same steps as its DuckDB twin)."""
    import re

    m = re.match(r"^[a-z]+://(?:[^/?#@]*@)?([^/?#:]+)", url)
    host = re.sub(r"^www\.", "", (m.group(1) if m else "").lower())
    rev_host = ",".join(reversed(host.split(".")))
    m = re.match(r"^[a-z]+://[^/?#]+(/[^?#]*)", url)
    path = re.sub(r"/+$", "", (m.group(1) if m else "")).lower()
    m = re.search(r"\?([^#]*)", url)
    kept = sorted(
        kv
        for kv in (m.group(1) if m else "").split("&")
        if kv and kv.split("=")[0] not in TRACKING_PARAMS
    )
    return rev_host + ")" + path + ("?" + "&".join(kept) if kept else "")


# --- XXH64, independently implemented (checked against Spark in tests) -----

_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """Unsigned XXH64 — Spark's F.xxhash64(string) is this over the UTF-8
    bytes with seed 42, reinterpreted as signed int64."""
    n, i = len(data), 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed & _M64,
            (seed - _P1) & _M64,
        ]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v[j] = (_rotl((v[j] + lane * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (
            _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        ) & _M64
        for vj in v:
            h ^= (_rotl((vj * _P2) & _M64, 31) * _P1) & _M64
            h = ((h * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((lane * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl(h, 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = ((_rotl(h, 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def host_bucket(host: str, n_buckets: int = N_BUCKETS) -> int:
    """pmod(xxhash64(host), n_buckets) — signed pmod like Spark's."""
    h = xxh64(host.encode())
    signed = h - (1 << 64) if h >= (1 << 63) else h
    return signed % n_buckets


# --- fixture twins ---------------------------------------------------------


def synth_frontier_rows() -> list[dict]:
    t0 = datetime(2023, 1, 1)
    rows = []
    for i in range(N_FRONTIER):
        base_i = (
            i % 17 if (_md5_rand(i, 2) < DUP_SHARE and i >= 20) else i
        )
        img_idx = _md5_idx("img:", base_i) % N_IMAGES
        host_idx = (
            0
            if _md5_rand(base_i, 1) < HOT_HOST_SHARE
            else _md5_idx("h:", base_i) % (N_HOSTS - 1) + 1
        )
        host = f"h{host_idx:02d}.example.com"
        prov_idx = host_idx % 20
        prefix = "/img" if prov_idx % 3 == 0 else "/search"
        image_id = f"img{img_idx:08d}"
        has_q = _md5_rand(base_i, 3) < 0.3
        has_utm = _md5_rand(i, 31) < 0.2
        qs = (
            "?q=1&utm_source=feed"
            if has_q and has_utm
            else "?q=1" if has_q else "?utm_source=feed" if has_utm else ""
        )
        url = f"https://{host}{prefix}/{image_id}{qs}"
        ts = t0 + timedelta(seconds=int(_md5_rand(i, 4) * 86400 * 365))
        arch_is_a = _md5_rand(i, 5) < 0.7
        cdx = CDX_API if arch_is_a else CDX_API + "-b"
        cid = str(
            uuid.uuid5(
                NAMESPACE_CAPTURE, f"{cdx}:{url}:{ts.strftime('%Y%m%d%H%M%S')}"
            )
        )
        rows.append(
            {
                "id": cid,
                "url": url,
                "url_key": _url_key(url),
                "host": host,
                "ts": ts,
                "status": 200 if _md5_rand(i, 6) < 0.9 else 404,
                "arch_priority": 10.0 if arch_is_a else 1.0,
                "prov_priority": 20.0 - float(prov_idx),
                "image_id": image_id,
            }
        )
    return rows


def robots_rules() -> dict[str, list[tuple[str | None, bool, float]]]:
    rules: dict[str, list] = {}
    for i in range(N_HOSTS):
        rules.setdefault(f"h{i:02d}.example.com", []).append(
            (None, True, 30.0 if i == 7 else 10.0)
        )
    rules["h00.example.com"].append(("/img", True, 2.0))
    rules["h04.example.com"].append(("/search", False, 10.0))
    return rules


def robots_pick(
    rules: dict, host: str, path: str
) -> tuple[bool, float]:
    """Longest-prefix pick with politeness.apply_robots' tie comparator."""
    applicable = [
        r
        for r in rules.get(host, [])
        if r[0] is None or path.startswith(r[0])
    ]
    if not applicable:
        return True, 10.0
    applicable.sort(
        key=lambda r: (
            -(len(r[0]) if r[0] is not None else -1),
            int(r[1]),  # disallow (False=0) first
            -(r[2] if r[2] is not None else -1.0),
        )
    )
    best = applicable[0]
    return best[1], best[2]


def image_verdicts() -> dict[str, tuple[int, bool, bool, bool]]:
    """image_id → (fetch_status, psnr_ok, caption_ok, phash_ok): the twin's
    fetch cache, same decode-once layout as fetch.validate_images."""
    out = {}
    for i in range(N_IMAGES):
        iid = f"img{i:08d}"
        fmt = "jpeg" if i % 2 else "png"
        pixels = codec.synth_pixels(iid, IMG_W, IMG_H)
        buf = codec.encode(pixels, fmt)
        decoded = codec.decode(buf)[3]
        s, _p, a, b, c = codec.validate_row(
            buf,
            iid,
            IMG_W,
            IMG_H,
            fmt,
            codec.synth_caption(iid),
            codec.phash(decoded),
        )
        out[iid] = (s, a, b, c)
    return out


# --- the stateful 3-round twin --------------------------------------------


def run_crawl_twin() -> dict:
    frontier = synth_frontier_rows()
    rules = robots_rules()
    verdicts = image_verdicts()
    base = [r for r in frontier if r["status"] == 200]  # all URLs are valid

    fetch_log: dict[str, datetime] = {}  # id → max fetched_at
    seen: set[str] = set()
    fetches: list[list] = []
    metrics: dict[tuple[int, int], list[int]] = {}

    for round_id, now_s in enumerate(NOWS):
        now = datetime.strptime(now_s, "%Y-%m-%d %H:%M:%S")
        if round_id == 0:
            new, refresh = list(base), []
        else:
            new = [r for r in base if r["id"] not in fetch_log]
            cutoff = now - timedelta(days=REFETCH_DAYS)
            refresh = [
                r
                for r in base
                if r["id"] in fetch_log and fetch_log[r["id"]] < cutoff
            ]

        def first_seen(batch: list[dict]) -> list[dict]:
            best: dict[str, dict] = {}
            for r in batch:
                cur = best.get(r["url_key"])
                if cur is None or (r["ts"], r["id"]) < (cur["ts"], cur["id"]):
                    best[r["url_key"]] = r
            return list(best.values())

        fresh = [
            dict(r, is_refresh=False)
            for r in first_seen(new)
            if r["url_key"] not in seen
        ]
        fresh += [dict(r, is_refresh=True) for r in first_seen(refresh)]

        # robots + politeness schedule
        scheduled: list[dict] = []
        by_host: dict[str, list[dict]] = {}
        for r in fresh:
            m = re.match(r"^[a-z]+://[^/?#]+(/[^?#]*)", r["url"])
            path = m.group(1) if m else "/"
            allowed, delay = robots_pick(rules, r["host"], path)
            if not allowed:
                continue
            r = dict(
                r,
                crawl_delay_s=delay,
                score=_saturation(r["arch_priority"])
                + _saturation(r["prov_priority"])
                + _md5_rand(r["id"], 42),
            )
            by_host.setdefault(r["host"], []).append(r)
        for host_rows in by_host.values():
            host_rows.sort(key=lambda r: (-r["score"], r["url_key"]))
            for wave, r in enumerate(host_rows[:BUDGET_WAVES]):
                scheduled.append(dict(r, wave=wave))

        # fetch + validate + commits
        for r in scheduled:
            s, a, b, c = verdicts[r["image_id"]]
            fetches.append(
                [
                    round_id,
                    r["id"],
                    r["url_key"],
                    r["host"],
                    r["wave"],
                    r["crawl_delay_s"],
                    r["is_refresh"],
                    s,
                    a,
                    b,
                    c,
                ]
            )
            fetch_log[r["id"]] = now
            if not r["is_refresh"]:
                seen.add(r["url_key"])
            m = metrics.setdefault(
                (round_id, host_bucket(r["host"])), [0, 0, 0, 0]
            )
            m[0] += 1
            m[1] += int(s == 200)
            m[2] += int(a and b and c)
            m[3] = max(m[3], r["wave"])

    return {
        "fetches": sorted(fetches),
        "seen_keys": sorted(seen),
        "metrics": [
            [rid, b, m[0], m[1], m[2], m[3]]
            for (rid, b), m in sorted(metrics.items())
        ],
    }


def render() -> str:
    return json.dumps(run_crawl_twin(), indent=1, sort_keys=True) + "\n"


def main() -> int:
    text = render()
    if "--check" in sys.argv:
        committed = OUT_PATH.read_text()
        if committed != text:
            print("crawl_goldens.json is STALE vs the twin", file=sys.stderr)
            return 1
        print("crawl_goldens.json is byte-identical to the twin output")
        return 0
    OUT_PATH.write_text(text)
    g = run_crawl_twin()
    print(
        f"wrote {OUT_PATH} — {len(g['fetches'])} fetch rows, "
        f"{len(g['seen_keys'])} seen keys, {len(g['metrics'])} metric rows"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
