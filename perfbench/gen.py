"""Seeded input generators for the two workloads.

Everything here runs in the benchmark's own process, before the Spark
session exists: the program under test only ever sees the files
written here. Inputs are cached on disk by (workload, seed, size); a
cached set is reused only when every file still matches the SHA-256
recorded in its manifest, so building the larger tables stays out of
every metric and out of every repeated run with the same seed.

Each generator returns ``expected``: the counts the pipeline must
produce, derived from the generator's own choices, never from a run.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import ccpages

# Scaled-down images of the paper's jobs. On 4 cores an operation of
# either workload is dominated by per-query cost (plan analysis,
# code generation, Python UDF round trips), not by rows, so the sizes
# are kept just large enough that every stage has real data; larger
# inputs would not fit a warm-up and a timed operation per run into
# the benchmark's time budget.
SIZES = {
    "catalog_refresh": {"per_provider": 1500, "target_factor": 5,
                        "pages": 600, "page_bytes": 8000, "matched_share": 0.4},
    "loader_ticks": {"table_rows": 60000, "tick_rows": 2000, "ticks": 12},
}

PROVIDERS = ("flickr", "wikimedia", "smithsonian")  # loader table rows
# Provider of the refresh batch: its records reach the dirty-row paths
# of ingest (undecodable JSON, non-CC license ids, over-limit URLs and
# titles, blacklisted tags). Each further provider adds about 2.5 s of
# plan building to an operation, which the run budget cannot afford.
REFRESH_PROVIDERS = ("flickr",)
# Providers of the refresh's target table: the batch provider plus
# smithsonian rows the batch never touches, which all carry views=0
# and so exercise popularity's zero guard without another ingest plan.
TARGET_PROVIDERS = ("flickr", "smithsonian")
# (provider, metric, percentile) rows of the popularity dimension
POPULARITY = [("flickr", "views", 0.85), ("smithsonian", "views", 0.5)]
# Site cc_scrape routes to: a multi-image group. Building one site's
# branch of the scrape plan takes about a second, so routing all 15
# would not fit the time budget; pages of every site are still
# generated (the other sites' pages must fall through unscraped) and
# all of them go through the page parse and the link extraction.
CC_SITES = ("behance",)
NOW = "2026-01-01 00:00:00"  # literal merge timestamp (UTC)
_PAST = 1_600_000_000_000_000  # µs; timestamps of rows already in the table

TAG = pa.struct([("name", pa.string()), ("provider", pa.string())])
IMAGE_TSV_ARROW = [
    ("foreign_identifier", pa.string()), ("foreign_landing_url", pa.string()),
    ("url", pa.string()), ("thumbnail", pa.string()), ("width", pa.int32()),
    ("height", pa.int32()), ("filesize", pa.int32()), ("license", pa.string()),
    ("license_version", pa.string()), ("creator", pa.string()),
    ("creator_url", pa.string()), ("title", pa.string()),
    ("meta_data", pa.map_(pa.string(), pa.string())),
    ("tags", pa.list_(TAG)), ("watermarked", pa.bool_()),
    ("provider", pa.string()), ("source", pa.string()),
    ("ingestion_type", pa.string()),
]
_TS = pa.timestamp("us", tz="UTC")
IMAGE_ARROW = pa.schema(
    [("identifier", pa.string())] + IMAGE_TSV_ARROW
    + [("created_on", _TS), ("updated_on", _TS),
       ("last_synced_with_source", _TS), ("removed_from_source", pa.bool_())]
)

_LICENSES = [("by", "4.0"), ("by-sa", "4.0"), ("by-nc", "2.0"), ("cc0", "1.0")]
_TAG_WORDS = ["sunset", "harbor", "bridge", "forest", "granite", "falcon"]
# names normalize's tag blacklist removes (image.py:76-96)
_BAD_TAGS = ["uploaded:by=flickr", "no person", "cc0", "squareformat"]


@dataclass
class Inputs:
    root: str
    expected: dict

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


def size_key(workload: str) -> str:
    parts = [f"{k}{v}" for k, v in sorted(SIZES[workload].items())]
    if workload == "catalog_refresh":
        parts += ["batch" + "+".join(REFRESH_PROVIDERS),
                  "target" + "+".join(TARGET_PROVIDERS), "sites" + "+".join(CC_SITES)]
    return "-".join(parts)


def _rng(workload: str, seed: int, stream: str = "") -> random.Random:
    return random.Random(f"{workload}:{seed}:{stream}")


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def _file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _tree_digests(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            rel = os.path.relpath(p, root)
            if rel != "manifest.json":
                out[rel] = _file_digest(p)
    return dict(sorted(out.items()))


def inputs_digest(inputs: Inputs) -> str:
    """One digest over every generated file and the expectations."""
    h = hashlib.sha256()
    for rel, d in _tree_digests(inputs.root).items():
        h.update(f"{rel}:{d}\n".encode())
    h.update(json.dumps(inputs.expected, sort_keys=True).encode())
    return h.hexdigest()


def load_or_generate(cache_root: str, workload: str, seed: int) -> Inputs:
    """Cached inputs for (workload, seed, size), regenerated when the
    cache is absent or any file fails its recorded hash."""
    root = os.path.join(cache_root, workload, f"seed{seed}-{size_key(workload)}")
    manifest = os.path.join(root, "manifest.json")
    if os.path.isfile(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if m.get("files") == _tree_digests(root):
            return Inputs(root, m["expected"])
    shutil.rmtree(root, ignore_errors=True)
    tmp = f"{root}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expected = GENERATORS[workload](tmp, seed)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"files": _tree_digests(tmp), "expected": expected}, f)
    os.replace(tmp, root)
    return Inputs(root, expected)


# ---------------------------------------------------------------------------
# canonical rows (shared by the refresh target and the loader table)
# ---------------------------------------------------------------------------

def _canonical_row(rng: random.Random, provider: str, fid: str) -> dict:
    lic, ver = rng.choice(_LICENSES)
    views = "0" if provider == "smithsonian" else str(rng.randint(0, 5000))
    return {
        "foreign_identifier": fid,
        "foreign_landing_url": f"https://{provider}.example.org/item/{fid}",
        "url": f"https://img.{provider}.example.org/{fid}.jpg",
        "thumbnail": None,
        "width": rng.randint(200, 4000),
        "height": rng.randint(200, 4000),
        "filesize": None,
        "license": lic,
        "license_version": ver,
        "creator": f"creator {rng.randrange(500)}",
        "creator_url": None,
        "title": f"{rng.choice(_TAG_WORDS)} {fid}",
        "meta_data": [("views", views)],
        "tags": [{"name": t, "provider": provider}
                 for t in sorted(rng.sample(_TAG_WORDS, 2))],
        "watermarked": False,
        "provider": provider,
        "source": provider,
        "ingestion_type": "provider_api",
    }


def _write_parquet(rows: list[dict], schema: pa.Schema, out_dir: str,
                   files: int = 4) -> None:
    os.makedirs(out_dir)
    step = -(-len(rows) // files)
    for i in range(files):
        part = rows[i * step:(i + 1) * step]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------------------
# catalog_refresh: bronze JSON per provider + canonical target table
# ---------------------------------------------------------------------------

def _flickr_record(rng, fid: str, kind: str) -> dict:
    r = {
        "id": fid, "owner": f"{rng.randrange(10**6)}@N0{rng.randrange(9)}",
        "title": f"{rng.choice(_TAG_WORDS)} photo {fid}",
        "license": str(rng.choice([1, 2, 3, 4, 5, 6, 9, 10])),
        "tags": " ".join(rng.sample(_TAG_WORDS, 3) + rng.sample(_BAD_TAGS, 1)),
        "url_l": f"https://live.staticflickr.com/{fid}_l.jpg",
        "width_l": 1024, "height_l": 768,
        "views": str(rng.randint(0, 5000)),
    }
    if rng.random() < 0.3:  # no large size: falls back to url_m
        del r["url_l"], r["width_l"], r["height_l"]
        r.update(url_m=f"https://live.staticflickr.com/{fid}_m.jpg",
                 width_m=500, height_m=375)
    if kind == "rejected":
        if rng.random() < 0.5:
            r["license"] = str(rng.choice([0, 8]))  # not a CC license
        else:
            r["url_l"] = "https://live.staticflickr.com/" + "x" * 3100
            r.pop("url_m", None)
    if rng.random() < 0.02:  # over-limit title: truncated, row kept
        r["title"] = "t" * 5200
    return r


_RECORD = {"flickr": _flickr_record}
# share of records per kind; flickr has no record filter, so its
# dropped records are all undecodable JSON
_KINDS = [("clean", 0.84), ("bad_json", 0.08), ("rejected", 0.08)]


def _fid(provider: str, n: int) -> str:
    return {"flickr": str(10**9 + n), "wikimedia": str(n),
            "smithsonian": f"edanmdm-{n}"}[provider]


def gen_catalog_refresh(root: str, seed: int) -> dict:
    size = SIZES["catalog_refresh"]
    per = size["per_provider"]
    n_target = per * size["target_factor"]
    rng = _rng("catalog_refresh", seed)
    target_rows: list[dict] = []
    expected = {"providers": {}, "batch_records": per * len(REFRESH_PROVIDERS)}
    inserted = updated = 0
    for provider in TARGET_PROVIDERS:
        prng = _rng("catalog_refresh", seed, provider)
        target_ids = list(range(n_target))
        for n in target_ids:
            row = _canonical_row(prng, provider, _fid(provider, n))
            row["identifier"] = str(uuid.UUID(int=prng.getrandbits(128)))
            row.update(created_on=_PAST, updated_on=_PAST,
                       last_synced_with_source=_PAST,
                       removed_from_source=False)
            target_rows.append(row)
        if provider not in REFRESH_PROVIDERS:
            continue
        kinds = []
        for _ in range(per):
            x, acc = prng.random(), 0.0
            for kind, share in _KINDS:
                acc += share
                if x < acc:
                    break
            kinds.append(kind)
        n_clean = kinds.count("clean")
        # half the clean keys update target rows, half are new keys;
        # rejected and dropped records use keys of their own
        overlap = prng.sample(target_ids, n_clean // 2)
        fresh = iter(range(n_target, n_target + per))
        lines = []
        for kind in kinds:
            n = overlap.pop() if kind == "clean" and overlap else next(fresh)
            rec = _RECORD[provider](prng, _fid(provider, n), kind)
            line = json.dumps(rec)
            if kind == "bad_json":
                line = line[: len(line) // 2]
            lines.append(line)
        os.makedirs(os.path.join(root, "bronze", provider))
        for i in range(4):
            with open(os.path.join(root, "bronze", provider,
                                   f"part-{i}.jsonl"), "w") as f:
                f.write("\n".join(lines[i::4]) + "\n")
        parsed = per - kinds.count("bad_json")
        expected["providers"][provider] = {
            "records": per, "parsed": parsed, "clean": n_clean,
            "rejected": kinds.count("rejected"),
        }
        updated += n_clean // 2
        inserted += n_clean - n_clean // 2
    rng.shuffle(target_rows)
    _write_parquet(target_rows, IMAGE_ARROW, os.path.join(root, "target"))
    cc = _gen_pages(root, rng, size)
    expected.update(cc)
    expected.update(target_rows=len(target_rows), inserted=inserted,
                    updated=updated,
                    merged_rows=len(target_rows) + inserted + cc["cc_rows"])
    return expected


# ---------------------------------------------------------------------------
# loader_ticks: canonical table + one IMAGE_TSV_RAW file per tick
# ---------------------------------------------------------------------------

def _wire(v) -> str:
    """One IMAGE_TSV_RAW field: \\N null, t/f bools, quoted JSON."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (list, dict)):
        v = json.dumps(v, separators=(",", ":"))
    s = str(v)
    if '"' in s:
        return '"' + s.replace('"', '\\"') + '"'
    return s


def tick_title_prefix(tick: int) -> str:
    return f"tick {tick:05d} "


def gen_loader_ticks(root: str, seed: int) -> dict:
    size = SIZES["loader_ticks"]
    n_table, n_tick = size["table_rows"], size["tick_rows"]
    rng = _rng("loader_ticks", seed)
    rows = []
    for n in range(n_table):
        provider = PROVIDERS[n % len(PROVIDERS)]
        rows.append(_canonical_row(rng, provider, _fid(provider, n)))
    _write_parquet(rows, pa.schema(IMAGE_TSV_ARROW), os.path.join(root, "table"))
    keys = [(r["provider"], r["foreign_identifier"]) for r in rows]
    os.makedirs(os.path.join(root, "ticks"))
    next_new = n_table
    for tick in range(size["ticks"]):
        trng = _rng("loader_ticks", seed, f"tick{tick}")
        batch = [k for k in trng.sample(keys, n_tick // 2)]
        for _ in range(n_tick - n_tick // 2):
            provider = PROVIDERS[next_new % len(PROVIDERS)]
            batch.append((provider, _fid(provider, next_new)))
            next_new += 1
        trng.shuffle(batch)
        lines = []
        for provider, fid in batch:
            row = _canonical_row(trng, provider, fid)
            row["title"] = tick_title_prefix(tick) + row["title"]
            row["meta_data"] = dict(row["meta_data"])
            row["tags"] = [t["name"] for t in row["tags"]]
            row["width"] = row["height"] = None  # kept from the table
            lines.append("\t".join(_wire(row[c]) for c, _ in IMAGE_TSV_ARROW))
        with open(os.path.join(root, "ticks", f"tick-{tick:05d}.tsv"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return {"table_rows": n_table, "tick_rows": n_tick,
            "tick_inserts": n_tick - n_tick // 2, "ticks": size["ticks"]}


def _gen_pages(root: str, rng: random.Random, size: dict) -> dict:
    """(url, html) page store: every CC_SCRAPERS site plus pages on
    hosts no spec routes to. All CC rows are new keys to the target."""
    sites = sorted(ccpages.SITE_TEMPLATES)
    rows_per_site = {s: 0 for s in sites}
    pages_per_site = {s: 0 for s in sites}
    urls, htmls = [], []
    cc_links = 0
    for n in range(size["pages"]):
        if rng.random() < size["matched_share"]:
            site = sites[rng.randrange(len(sites))]
            url, head, rows, anchors = ccpages.SITE_TEMPLATES[site](n, rng)
            rows_per_site[site] += rows if site in CC_SITES else 0
            pages_per_site[site] += 1
        else:
            url, head, anchors = ccpages.offsite_page(n, rng, rng.random() < 0.1)
        cc_links += anchors
        body = ccpages.filler(rng, size["page_bytes"] - len(head))
        urls.append(url)
        htmls.append(f"<html><body>{head}{body}</body></html>")
    table = pa.table({"url": pa.array(urls, pa.string()),
                      "html": pa.array(htmls, pa.string())})
    os.makedirs(os.path.join(root, "pages"))
    pq.write_table(table, os.path.join(root, "pages", "part-00000.parquet"))
    return {"pages": size["pages"], "rows_per_site": rows_per_site,
            "pages_per_site": pages_per_site,
            "cc_rows": sum(rows_per_site.values()), "cc_links": cc_links}


GENERATORS = {
    "catalog_refresh": gen_catalog_refresh,
    "loader_ticks": gen_loader_ticks,
}
