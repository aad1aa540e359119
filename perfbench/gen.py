"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of the seed: the same seed writes the
same parquet files and returns the same expectations. Expectations are
computed here, from what was planted, and never from the engine's output.
"""
import datetime as dt
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DAY = dt.date(2026, 1, 5)
N_DAYS = 60
# `today` of iteration i is FIRST_TODAY + i days, so the FL2 past filter
# drops a growing share of the input as the daily runs advance
FIRST_TODAY = 20
MAX_ITERATIONS = 400

# syllables whose accent-folded, lower-cased forms are all distinct, so a
# word built from them is one unique artist token after normalisation
_SYL = ["ka", "lo", "mi", "ru", "zen", "ta", "vo", "pi", "sha", "dur",
        "bel", "nox", "qui", "fa", "gor", "jun", "lem", "wy", "hex", "plo"]
_ACCENT = str.maketrans({"e": "é", "a": "à", "o": "ô", "u": "ü", "i": "ï"})
_FR_MONTH = ["janv.", "févr.", "mars", "avr.", "mai", "juin", "juil.",
             "août", "sept.", "oct.", "nov.", "déc."]
_FR_WDAY = ["lun.", "mar.", "mer.", "jeu.", "ven.", "sam.", "dim."]
_CITIES = ["Paris", "Lyon", "Marseille", "Lille", "Nantes", "Bordeaux"]


def _word(i, perm):
    """Unique pseudo-word for index i (>= 3 syllables, so never a stopword)."""
    n = len(_SYL)
    out = []
    x = i
    for _ in range(4):
        out.append(_SYL[perm[x % n]])
        x //= n
    assert x == 0, "word index out of range"
    return "".join(out)


def _fr_label(t):
    return (f"{_FR_WDAY[t.weekday()]} {t.day} {_FR_MONTH[t.month - 1]} "
            f"{t.year} {t.hour:02d}:{t.minute:02d}")


def e1_today(i):
    return (BASE_DAY + dt.timedelta(days=FIRST_TODAY + i)).isoformat()


def e1_daily(out_dir, seed, n_per_side=20000):
    """Raw DICE (GraphQL shape) and Shotgun (card text) rows.

    Planted structure, all seed-dependent:
      * matched pairs: one DICE + one Shotgun event on the same day that
        share a unique artist token;
      * tour groups: up to 8 pairs on one day that also share a tour
        token, so the (day, token) join sees k x k pairs for that key;
      * conflicts: an extra DICE event claiming a paired Shotgun event;
      * hot days: a share of all events lands on three days;
      * FL1 undated, FL2 past (relative to each iteration's `today`) and
        FL3 nameless rows.
    Returns the expectation table the checker compares against.
    """
    rng = random.Random(seed * 1000003 + 17)
    perm = list(range(len(_SYL)))
    rng.shuffle(perm)
    match_share = rng.uniform(0.45, 0.55)
    hot_share = rng.uniform(0.15, 0.25)
    hot_days = rng.sample(range(N_DAYS), 3)
    n_pairs = int(n_per_side * match_share)
    n_conflict = n_per_side // 100
    n_undated = n_per_side // 50
    n_nameless = n_per_side // 100
    words = iter(range(len(_SYL) ** 4))
    next(words)

    def day_of():
        d = rng.choice(hot_days) if rng.random() < hot_share else rng.randrange(N_DAYS)
        return d

    def when(d):
        return dt.datetime.combine(BASE_DAY + dt.timedelta(days=d),
                                   dt.time(rng.randrange(14, 24), rng.randrange(0, 60)))

    dice, sg = [], []
    # (day or None, kind) per output-relevant unit, for the expectations
    units = []

    def add_dice(name, artist, t):
        did = len(dice) + 1_000_000
        dice.append({
            "id": did, "name": name,
            "startDatetime": t.strftime("%Y-%m-%dT%H:%M:00") if t else None,
            "artists": [{"name": artist}],
            "venues": [{"name": f"Salle {rng.randrange(1, 90)}",
                        "city": rng.choice(_CITIES), "country": "FR",
                        "timezoneName": "Europe/Paris"}],
            "tickets": {"totalCount": str(rng.randrange(0, 5000))},
            "currency": "EUR", "status": rng.choice(["on sale", "sold out"]),
        })

    def add_sg(name, artist, t):
        style = rng.randrange(3)
        stats = f"{rng.randrange(0, 3000)} billets vendus\n{rng.randrange(100, 90000)},{rng.randrange(0, 99):02d} €"
        if t is None:
            dt_attr, dt_label, dt_text = "", "", ""
        elif style == 0:
            dt_attr, dt_label, dt_text = t.strftime("%Y-%m-%dT%H:%M"), "", ""
        elif style == 1:
            dt_attr, dt_label, dt_text = "", _fr_label(t), ""
        else:
            dt_attr, dt_label, dt_text = "", "", t.strftime("%Y-%m-%dT%H:%M")
        first = name if name else ""
        sg.append({
            "card_text": f"{first}\n{dt_text}\nCOMPLET" if rng.random() < 0.1
                         else f"{first}\n{dt_text}\nbillets",
            "name_hint": name, "dt_attr": dt_attr, "dt_label": dt_label,
            "artist_hint": artist if rng.random() < 0.5 else "",
            "venue_hint": f"Club {rng.randrange(1, 50)}",
            "stats_text": stats,
            "source_url": f"https://shotgun.live/events/{len(sg)}",
        })

    # matched pairs, some grouped into same-day tours
    i = 0
    while i < n_pairs:
        d = day_of()
        k = rng.randrange(2, 9) if rng.random() < 0.05 else 1
        k = min(k, n_pairs - i)
        tour = _word(next(words), perm) if k > 1 else None
        for _ in range(k):
            a = _word(next(words), perm)
            sg_name = a.title().translate(_ACCENT) if rng.random() < 0.3 else a.title()
            dc_name = a.upper()
            if tour:
                sg_name += f" - {tour.title()}"
                dc_name += f" ({tour})"
            add_sg(sg_name, "", when(d))
            add_dice(dc_name, a.title(), when(d))
            units.append((d, "matched"))
            if len(units) <= n_conflict and not tour:
                # a second DICE event claims the same Shotgun event: one of
                # the two is matched, the other stays DICE-only
                add_dice(f"{a.title()} feat. {_word(next(words), perm).title()}",
                         a.title(), when(d))
                units.append((d, "dice_only"))
            i += 1
    # unpaired events, then the flagged rows
    while len(sg) < n_per_side - n_undated - n_nameless:
        d = day_of()
        add_sg(_word(next(words), perm).title(), "", when(d))
        units.append((d, "sg_only"))
    while len(dice) < n_per_side - n_undated:
        d = day_of()
        a = _word(next(words), perm).title()
        add_dice(a, a, when(d))
        units.append((d, "dice_only"))
    for _ in range(n_undated):
        add_sg(_word(next(words), perm).title(), "", None)
        a = _word(next(words), perm).title()
        add_dice(a, a, None)
    for _ in range(n_nameless):
        add_sg("", "", when(day_of()))
    rng.shuffle(dice)
    rng.shuffle(sg)

    dice_schema = pa.schema([
        ("id", pa.int64()), ("name", pa.string()), ("startDatetime", pa.string()),
        ("artists", pa.list_(pa.struct([("name", pa.string())]))),
        ("venues", pa.list_(pa.struct([("name", pa.string()), ("city", pa.string()),
                                       ("country", pa.string()),
                                       ("timezoneName", pa.string())]))),
        ("tickets", pa.struct([("totalCount", pa.string())])),
        ("currency", pa.string()), ("status", pa.string())])
    pq.write_table(pa.Table.from_pylist(dice, schema=dice_schema), f"{out_dir}/dice.parquet")
    pq.write_table(pa.Table.from_pylist(sg), f"{out_dir}/shotgun.parquet")

    # per-iteration expectations: counts of output rows whose day >= today
    days = np.array([u[0] for u in units])
    kinds = np.array([u[1] for u in units])
    expect = []
    for it in range(MAX_ITERATIONS):
        live = days >= FIRST_TODAY + it
        row = {k: int(np.sum(live & (kinds == k))) for k in ("matched", "sg_only", "dice_only")}
        row["dropped"] = len(sg) + len(dice) - 2 * row["matched"] - row["sg_only"] - row["dice_only"]
        expect.append(row)
    return {"sg_rows": len(sg), "dice_rows": len(dice), "nameless": n_nameless,
            "per_iteration": expect,
            "shares": {"matched": round(match_share, 4), "hot_days": round(hot_share, 4)}}


_LANG_MARKERS = {"en": ["the", "and", "of", "is", "with"],
                 "fr": ["le", "la", "les", "et", "des"],
                 "de": ["der", "die", "und", "ist", "von"],
                 "es": ["el", "los", "las", "y", "es"]}
_QUALITY_STOPS = {"the", "and", "of", "a", "to", "in", "is", "it"}


def curation(out_dir, seed, n_docs=4000, n_vecs=2000, dim=64):
    """A corpus of documents and embeddings to curate.

    Planted: exact duplicates and light-edit near duplicates in bounded
    clusters, short documents the quality filter drops, a known language
    per document, and embeddings clustered with a seed-dependent skew plus
    near-copies for the semantic dedup.
    """
    rng = random.Random(seed * 7919 + 5)
    nrng = np.random.default_rng(seed)
    perm = list(range(len(_SYL)))
    rng.shuffle(perm)
    vocab_size = rng.randrange(2500, 3500)
    vocab = [_word(rng.randrange(1, len(_SYL) ** 4), perm) for _ in range(vocab_size)]
    dup_share = rng.uniform(0.08, 0.12)
    doc_len = rng.randrange(45, 55)
    langs = list(_LANG_MARKERS)

    texts, lang_of = [], []
    while len(texts) < n_docs:
        lang = rng.choice(langs)
        n = rng.randrange(3, 7) if rng.random() < 0.03 else rng.randrange(doc_len - 10, doc_len + 10)
        toks = [rng.choice(_LANG_MARKERS[lang]) if rng.random() < 0.15 else rng.choice(vocab)
                for _ in range(n)]
        if not any(t in _LANG_MARKERS[lang] for t in toks):
            toks[0] = _LANG_MARKERS[lang][0]
        texts.append(" ".join(toks))
        lang_of.append(lang)
        if rng.random() < dup_share:
            # a bounded cluster of exact and near copies of this document
            for _ in range(rng.randrange(1, 4)):
                if len(texts) >= n_docs:
                    break
                copy = list(toks)
                plain = [j for j, t in enumerate(copy) if t not in _LANG_MARKERS[lang]]
                if plain and rng.random() < 0.5:
                    # edit a vocabulary word, never a language marker, so the
                    # planted language of the copy stays what it was
                    copy[rng.choice(plain)] = rng.choice(vocab)
                texts.append(" ".join(copy))
                lang_of.append(lang)
    order = list(range(n_docs))
    rng.shuffle(order)
    texts = [texts[j] for j in order]
    lang_of = [lang_of[j] for j in order]
    doc_ids = list(range(1, n_docs + 1))
    pq.write_table(pa.table({"doc_id": pa.array(doc_ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   f"{out_dir}/documents.parquet")

    # embeddings: clusters with skewed sizes, plus near-copies
    n_clusters = 24
    skew = rng.uniform(0.8, 1.2)
    weights = 1.0 / np.arange(1, n_clusters + 1) ** skew
    centers = nrng.normal(size=(n_clusters, dim))
    assign = nrng.choice(n_clusters, size=n_vecs, p=weights / weights.sum())
    vecs = centers[assign] + nrng.normal(scale=0.6, size=(n_vecs, dim))
    n_copies = n_vecs // 20
    src = nrng.choice(n_vecs - n_copies, size=n_copies, replace=False)
    vecs[n_vecs - n_copies:] = vecs[src] + nrng.normal(scale=0.01, size=(n_copies, dim))
    vecs = vecs.astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(1, n_vecs + 1), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(assign.astype(np.int32))}), f"{out_dir}/embeddings.parquet")
    n_queries = rng.randrange(90, 110)

    kept = [len(t.split()) >= 8 for t in texts]
    stop_hits = sum(sum(1 for w in t.split() if w in _QUALITY_STOPS) for t in texts)
    groups = {}
    for doc_id, t, k in zip(doc_ids, texts, kept):
        if k:
            groups.setdefault(t, []).append(doc_id)
    return {
        "docs": n_docs, "vecs": n_vecs, "queries": n_queries, "top_k": 10,
        "kept_docs": sum(kept),
        "tokens": sum(len(t.split()) for t in texts),
        "stop_hits": stop_hits,
        "langs": {lang: lang_of.count(lang) for lang in langs},
        "exact_dup_groups": [ids for ids in groups.values() if len(ids) > 1],
        "shares": {"vocab": vocab_size, "dup": round(dup_share, 4), "doc_len": doc_len,
                   "skew": round(skew, 4)},
    }
