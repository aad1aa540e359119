"""Output checks. Each returns (attempted, failures): one attempt per
iteration (per query and iteration for the registry mix), and one
message per failed attempt. Expectations come from the generators or
from the DuckDB oracle, never from the engine's own output.
"""
import glob
import hashlib
import math
import os

import pyarrow.parquet as pq


def _iterations(record):
    return record.get("iterations", [])


def e1_daily(record, expect, sinks=None):
    """Planted matched / SG-only / DICE-only / dropped counts per `today`;
    with the sinks directory, also every K2 run partition and the last
    K1 snapshot and K4 preview."""
    failures = []
    ingested = expect["sg_rows"] - expect["nameless"] + expect["dice_rows"]
    done = [it for it in _iterations(record) if "error" not in it]
    for it in _iterations(record):
        i = it["i"]
        if "error" in it:
            failures.append(f"iteration {i}: {it['error']}")
            continue
        out, want = it["out"], expect["per_iteration"][i]
        got = {k: out[k] for k in ("matched", "sg_only", "dice_only")}
        got["dropped"] = (expect["sg_rows"] + expect["dice_rows"] - 2 * out["matched"]
                          - out["sg_only"] - out["dice_only"])
        bad = [f"{k} {got[k]} != {want[k]}" for k in want if got[k] != want[k]]
        if sinks:
            k2 = _count(f"{sinks}/historized/ingestion_run_id={out['run_id']}", "parquet")
            if k2 != ingested:
                bad.append(f"K2 run partition holds {k2} rows, ingested {ingested}")
            if it is done[-1]:
                k1 = _count(f"{sinks}/consolidated", "parquet")
                k4 = _count(f"{sinks}/preview", "json")
                if k1 != out["rows"]:
                    bad.append(f"K1 holds {k1} rows, consolidation returned {out['rows']}")
                if k4 != min(20, out["rows"]):
                    bad.append(f"K4 preview holds {k4} rows")
                runs = len(glob.glob(f"{sinks}/historized/ingestion_run_id=*"))
                if runs != len(done):
                    bad.append(f"K2 holds {runs} run partitions after {len(done)} runs")
        if bad:
            failures.append(f"iteration {i}: " + "; ".join(bad))
    return len(_iterations(record)), failures


def _count(path, fmt):
    files = glob.glob(os.path.join(path, "part-*"))
    if fmt == "json":
        return sum(sum(1 for line in open(f) if line.strip()) for f in files)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files if f.endswith(".parquet"))


def _rows(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return pq.ParquetDataset(files).read().to_pylist()


def digest(rows):
    """Order-insensitive digest of a list of dict rows (columns sorted)."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(sorted(_norm_row(x).items()))) for x in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _norm_row(r):
    return {k: _norm(v) for k, v in r.items()}


def curation_iteration(d, expect, tau):
    """Invariants of one curated output directory; returns (bad, digest)."""
    bad = []
    quality = _rows(f"{d}/quality")
    if len(quality) != expect["docs"]:
        bad.append(f"quality rows {len(quality)} != {expect['docs']}")
    if sum(r["n_tokens"] for r in quality) != expect["tokens"]:
        bad.append("token count differs from the generated corpus")
    langs = {}
    for r in quality:
        langs[r["lang"]] = langs.get(r["lang"], 0) + 1
    if langs != expect["langs"]:
        bad.append(f"languages {langs} != {expect['langs']}")
    hits = sum(r["stop_ratio"] * r["n_tokens"] for r in quality)
    if abs(hits - expect["stop_hits"]) > 1e-6 * max(1, expect["stop_hits"]):
        bad.append(f"stopword hits {hits:.3f} != {expect['stop_hits']}")

    comps = {r["id"]: r["comp"] for r in _rows(f"{d}/components")}
    for ids in expect["exact_dup_groups"]:
        labels = {comps.get(x) for x in ids}
        if None in labels or len(labels) != 1:
            bad.append(f"exact duplicates {ids} not in one component")
            break
    members = {}
    for x, c in comps.items():
        members.setdefault(c, []).append(x)
    if any(min(xs) != c for c, xs in members.items()):
        bad.append("a component label is not its smallest member")

    sem = _rows(f"{d}/semdedup")
    if any(r["dropped_id"] <= r["kept_id"] or r["sim"] < tau for r in sem):
        bad.append("a semantic-dedup pair breaks kept < dropped or sim >= tau")
    if len({r["dropped_id"] for r in sem}) != len(sem):
        bad.append("a document is dropped twice by semantic dedup")

    topk = _rows(f"{d}/topk")
    per_q = {}
    for r in topk:
        per_q.setdefault(r["q_id"], []).append(r)
    if len(per_q) != expect["queries"]:
        bad.append(f"top-k answers {len(per_q)} queries, asked {expect['queries']}")
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r["rank"])
        if ([r["rank"] for r in rs] != list(range(1, len(rs) + 1)) or len(rs) > expect["top_k"]
                or any(a["sim"] < b["sim"] for a, b in zip(rs, rs[1:]))
                or any(r["n_id"] == q for r in rs)):
            bad.append(f"top-k list of query {q} is not a ranked list of others")
            break
    return bad, digest(quality + [{"id": k, "comp": v} for k, v in comps.items()] + sem + topk)


def curation(record, expect, tau):
    """Planted invariants per iteration, and one digest across iterations."""
    failures = []
    first = None
    for it in _iterations(record):
        i = it["i"]
        if "error" in it:
            failures.append(f"iteration {i}: {it['error']}")
            continue
        try:
            bad, dg = curation_iteration(it["out"]["dir"], expect, tau)
        except (OSError, KeyError, ValueError) as e:
            bad, dg = [f"unreadable output: {e}"], None
        first = first or dg
        if dg is not None and dg != first:
            bad.append(f"digest {dg} differs from the first iteration's {first}")
        if bad:
            failures.append(f"iteration {i}: " + "; ".join(bad))
    return len(_iterations(record)), failures


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle(fixture, sql):
    """Rows of each oracle query, run by DuckDB over the fixture tables."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name, q in sql.items():
        cur = con.sql(q)
        out[name] = [dict(zip(cur.columns, r)) for r in cur.fetchall()]
    return out


def registry_leg(record, expected, results_dir):
    """Every run of every query against the oracle's row count, the
    first run's written result against the oracle's rows, and every
    run's engine-side digest against the first run's."""
    failures = []
    attempted = 0
    first = {}
    for it in _iterations(record):
        i = it["i"]
        if "error" in it:
            attempted += len(expected)
            failures += [f"iteration {i} {n}: {it['error']}" for n in expected]
            continue
        for name, want in sorted(expected.items()):
            attempted += 1
            got = it["queries"][name]
            bad = []
            if got["rows"] != len(want):
                bad.append(f"{got['rows']} rows, oracle {len(want)}")
            if i == 0:
                first[name] = got["digest"]
                try:
                    rows = _rows(os.path.join(results_dir, name))
                except (OSError, ValueError) as e:
                    rows, bad = None, bad + [f"result unreadable: {e}"]
                if rows is not None and digest(rows) != digest(want):
                    bad.append("result differs from the oracle")
            elif got["digest"] != first.get(name):
                bad.append("digest differs from the first run")
            if bad:
                failures.append(f"iteration {i} {name}: " + "; ".join(bad))
    return attempted, failures
