"""Seeded transcript corpus + alias gazetteer and the expected KG outputs.

Everything is generated by this single Python process and written as
parquet (pyarrow) before any timing starts; the KG entry points read only
those files.

The gazetteer is built so that its canonicalization is known exactly:

- entity names are distinct pseudo-words of 3-4 consonant-vowel
  syllables; a name whose profile would reach the 0.8 shingle-Jaccard
  merge threshold with another entity's is drawn again (exact check,
  :func:`similar_pairs`), so no merge happens by accident;
- planted near-duplicates are distinct URIs whose aliases differ only by a
  legal suffix or by letter case, so their normalized profiles are
  identical (Jaccard 1.0) and MinHash/LSH blocking finds them with
  certainty, exactly like the exact driver-side path does;
- some aliases are ambiguous (one surface form, two entities, different
  priors) and some entities carry a second, unrelated alias.

:func:`expected` is a plain-Python model of ``kg.pipeline.build_kg`` over
the generated inputs (stable turn dedup, leftmost-longest alias matching,
the ``<A> released <B> in <year>`` template, prior-argmax linking, the
canonical map, N-Triples rendering and per-conversation payload hashes).
"""

from __future__ import annotations

import hashlib
import random
import re
from collections import defaultdict

KG = "urn:kg:"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_GYEAR = "http://www.w3.org/2001/XMLSchema#gYear"
PRED_MENTIONS = KG + "pred:mentions"
PRED_RELEASED = KG + "pred:released"
PRED_IN_YEAR = KG + "pred:inYear"
PRED_TEXT = KG + "pred:text"
CLASS_TURN = KG + "class:Turn"
EPOCH0 = 1767225600
ESCAPE_TAIL = ' see "naïve\\path"\n\tend'
LEGAL = ("Corp", "Inc", "Ltd", "GmbH", "LLC")

_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_LEGAL_RE = re.compile(r"\b(corp|corporation|inc|incorporated|ltd|llc|gmbh|co|the)\b")
_WS = "\\x09-\\x0d\\x20\\x85\\xa0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000"
_STRIP = re.compile(f"^[{_WS}]+|[{_WS}]+$")
_RELATION = re.compile(r"^([^\n]*?) released ([^\n]*?) in (\d{4})")
_WORD = re.compile(r"\w+")


def _profile(aliases: list[str]) -> str:
    norms = set()
    for a in aliases:
        n = re.sub(r"\s+", " ", _LEGAL_RE.sub("", a.lower())).strip()
        if n:
            norms.add(n)
    return "|".join(sorted(norms))


def _shingles(text: str, n: int = 3) -> frozenset[str]:
    if len(text) < n:
        return frozenset([text])
    return frozenset(text[i : i + n] for i in range(len(text) - n + 1))


def similar_pairs(profiles: dict[str, str]) -> set[tuple[str, str]]:
    """Every entity pair whose profiles' character-trigram sets have
    Jaccard >= 0.8, exactly, without comparing all pairs.

    With ``u = |A|B|`` (union), ``i`` the intersection and ``d = u - i``,
    Jaccard >= 0.8 means ``d <= u/5``. When both sets have at most 7
    trigrams, or one has at most 7, ``d >= 2`` would need ``i >= 8``, so
    the pair is identical or one set is the other plus one trigram: found
    by hashing every set and every one-trigram deletion of it. Pairs of
    sets with 8 or more trigrams (second-alias profiles) are compared by
    prefix filtering: tokens ordered rarest first, two such sets share a
    token among the first ``|x| - ceil(0.8*|x|) + 1`` of each."""
    sets = {u: _shingles(p) for u, p in profiles.items() if p}
    by_set: dict[frozenset, list[str]] = defaultdict(list)
    for u in sorted(sets):
        by_set[sets[u]].append(u)
    out: set[tuple[str, str]] = set()

    def add(xs, ys):
        out.update((min(x, y), max(x, y)) for x in xs for y in ys if x != y)

    for s, us in by_set.items():
        add(us, us)
        if len(s) >= 5:
            for tok in s:
                sub = s - {tok}
                if sub in by_set and len(sub) >= 0.8 * len(s):
                    add(us, by_set[sub])
    large = {u: s for u, s in sets.items() if len(s) >= 8}
    freq: dict[str, int] = defaultdict(int)
    for s in large.values():
        for tok in s:
            freq[tok] += 1
    index: dict[str, list[str]] = defaultdict(list)
    for u in sorted(large):
        toks = sorted(large[u], key=lambda t: (freq[t], t))
        cands = set()
        ceil_08 = -(-4 * len(toks) // 5)  # integer ceil(0.8 * n)
        for tok in toks[: len(toks) - ceil_08 + 1]:
            cands.update(index[tok])
            index[tok].append(u)
        for v in cands:
            a, b = large[u], large[v]
            if len(a & b) >= 0.8 * len(a | b):
                out.add((min(u, v), max(u, v)))
    return out


class Gazetteer:
    def __init__(self) -> None:
        self.rows: list[tuple[str, str, float]] = []  # (alias, entity_uri, prior)
        self.planted_pairs = 0
        self.ambiguous = 0
        self.redrawn = 0


def gazetteer(n_entities: int, seed: int) -> Gazetteer:
    rng = random.Random(f"gaz:{seed}:{n_entities}")
    g = Gazetteer()
    used: set[str] = set()

    def fresh() -> str:
        while True:
            name = "".join(rng.choice(_SYL) for _ in range(rng.randrange(3, 5))).title()
            if name.lower() not in used:
                used.add(name.lower())
                return name

    uris = [f"{KG}ent:g{i:06d}" for i in range(n_entities)]
    names = {u: fresh() for u in uris}
    kinds = {}  # planted twin alias suffix / case, or an ambiguous claim
    for i, u in enumerate(uris):
        r = rng.random()
        if r < 0.04:
            kinds[u] = ("twin", rng.choice(LEGAL) if rng.random() < 0.7 else None, 0.8)
        elif r < 0.06 and i > 0:
            kinds[u] = ("claims", uris[i - 1], 0.3)

    def build() -> list[tuple[str, str, float]]:
        rows = []
        for u in uris:
            rows.append((names[u], u, priors[u]))
            kind = kinds.get(u)
            if kind and kind[0] == "twin":
                variant = f"{names[u]} {kind[1]}" if kind[1] else names[u].upper()
                rows.append((variant, u + "dup", kind[2]))
            elif kind:
                rows.append((names[kind[1]], u, kind[2]))
        return rows

    priors = {u: round(0.5 + 0.4 * rng.random(), 3) for u in uris}
    planted = {(u, u + "dup") for u, k in kinds.items() if k[0] == "twin"}
    # draw again every name in an unplanted similar pair, so the only
    # merges are the planted ones (MinHash/LSH then finds all of them)
    while True:
        rows = build()
        by_uri: dict[str, list[str]] = defaultdict(list)
        for a, e, _p in rows:
            by_uri[e].append(a)
        clash = similar_pairs({u: _profile(al) for u, al in by_uri.items()}) - planted
        if not clash:
            break
        for _a, b in sorted(clash):
            names[b.removesuffix("dup")] = fresh()
            g.redrawn += 1
    g.rows = rows
    g.planted_pairs = len(planted)
    g.ambiguous = sum(1 for k in kinds.values() if k[0] == "claims")
    return g


def transcripts(n_conv: int, g: Gazetteer, seed: int, pool_size: int = 4000) -> list[tuple]:
    """``(conv_id, turn_idx, role, text, tool, ts)`` rows, shuffled.

    1% hot conversations (200 turns against a 4-12 turn median), 2%
    double-delivered turns (later ``ts``, dropped by the stable order),
    ~10% escape-heavy literals."""
    rng = random.Random(f"tr:{seed}:{n_conv}")
    aliases = sorted({a for a, _e, _p in g.rows})
    pool = rng.sample(aliases, min(pool_size, len(aliases)))
    roles = ("user", "assistant", "tool")
    tools = ("search", "code", "browse", "calc")
    rows = []
    for c in range(n_conv):
        conv = f"conv-{c:06d}"
        n_turns = 200 if c % 100 == 0 else rng.randint(4, 12)
        for t in range(n_turns):
            a, b, x = rng.choice(pool), rng.choice(pool), rng.choice(pool)
            year = 1995 + rng.randrange(30)
            r = rng.random()
            if r < 0.2:
                text = f"nothing to report in {year}"
            elif r < 0.7:
                text = f"{a} released {b} in {year}"
            else:
                text = f"we discussed {a} and {b} with {x} today"
            if rng.random() < 0.1:
                text += ESCAPE_TAIL
            role = roles[t % 3]
            ts = EPOCH0 + c * 3600 + t * 30
            rows.append((conv, t, role, text, rng.choice(tools) if role == "tool" else None, ts))
            if rng.random() < 0.02:
                rows.append((conv, t, "user", text + " redelivered", None, ts + 5))
    rng.shuffle(rows)
    return rows


def write_parquet(rows_tr: list[tuple], g: Gazetteer, tr_path: str, al_path: str) -> None:
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    utc = dt.timezone.utc
    tr = pa.table(
        {
            "conv_id": [r[0] for r in rows_tr],
            "turn_idx": pa.array([r[1] for r in rows_tr], pa.int32()),
            "role": [r[2] for r in rows_tr],
            "text": [r[3] for r in rows_tr],
            "tool": pa.array([r[4] for r in rows_tr], pa.string()),
            "ts": pa.array(
                [dt.datetime.fromtimestamp(r[5], utc) for r in rows_tr],
                pa.timestamp("us", tz="UTC"),
            ),
        }
    )
    pq.write_table(tr, tr_path, row_group_size=1 << 16)
    al = pa.table(
        {
            "alias": [r[0] for r in g.rows],
            "entity_uri": [r[1] for r in g.rows],
            "prior": pa.array([r[2] for r in g.rows], pa.float64()),
        }
    )
    pq.write_table(al, al_path)


def _escape(v: str) -> str:
    for raw, esc in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        v = v.replace(raw, esc)
    return v


def nt_line(s, p, o, kind, lang, dt) -> str:
    subj = s if s.startswith("_:") else f"<{s}>"
    if kind == "iri":
        obj = f"<{o}>"
    elif kind == "bnode":
        obj = o
    else:
        obj = f'"{_escape(o)}"'
        if lang:
            obj += f"@{lang}"
        elif dt:
            obj += f"^^<{dt}>"
    return f"{subj} <{p}> {obj} ."


def canonical_map(g: Gazetteer) -> dict[str, str]:
    """entity -> lexicographic min URI of its connected component under
    the exact Jaccard >= 0.8 relation on normalized alias profiles (the
    semantics of both canonicalization strategies)."""
    by_uri: dict[str, list[str]] = defaultdict(list)
    for a, e, _p in g.rows:
        by_uri[e].append(a)
    parent = {u: u for u in by_uri}

    def find(x: str) -> str:
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in similar_pairs({u: _profile(al) for u, al in by_uri.items()}):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def _mentions(text: str, alias_set: set[str]) -> list[str]:
    """Leftmost-longest whole-word alias matches (aliases are 1-2 words)."""
    toks = list(_WORD.finditer(text))
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and text[toks[i].end() : toks[i + 1].start()] == " ":
            two = text[toks[i].start() : toks[i + 1].end()]
            if two in alias_set:
                out.append(two)
                i += 2
                continue
        if toks[i].group() in alias_set:
            out.append(toks[i].group())
        i += 1
    return out


def expected(rows_tr: list[tuple], g: Gazetteer, catalogue: str = "transcripts") -> dict:
    best: dict[str, tuple] = {}
    for a, e, p in g.rows:
        cand = (-p, e)
        if a not in best or cand < best[a]:
            best[a] = cand
    canon = canonical_map(g)
    entity_of = {a: canon.get(e, e) for a, (_p, e) in best.items()}
    alias_set = set(best)

    kept: dict[tuple, tuple] = {}
    for conv, t, _role, text, _tool, ts in rows_tr:
        key = (conv, t)
        if key not in kept or (ts, text) < (kept[key][1], kept[key][0]):
            kept[key] = (text, ts)

    triples: dict[tuple, int] = {}  # (conv, s, p, o, kind, lang, dt) -> min turn

    def emit(conv, t, s, p, o, kind, lang=None, dt=None):
        k = (conv, s, p, o, kind, lang, dt)
        if k not in triples or t < triples[k]:
            triples[k] = t

    for (conv, t), (text, _ts) in kept.items():
        turn = f"{KG}turn:{conv}:{t}"
        for e in dict.fromkeys(entity_of[m] for m in _mentions(text, alias_set)):
            emit(conv, t, turn, PRED_MENTIONS, e, "iri")
        m = _RELATION.match(text)
        if m:
            a, b = _STRIP.sub("", m.group(1)), _STRIP.sub("", m.group(2))
            if a in alias_set and b in alias_set:
                emit(conv, t, turn, PRED_IN_YEAR, m.group(3), "literal", dt=XSD_GYEAR)
                emit(conv, t, entity_of[a], PRED_RELEASED, entity_of[b], "iri")
        emit(conv, t, turn, PRED_TEXT, text, "literal")
        emit(conv, t, turn, RDF_TYPE, CLASS_TURN, "iri")

    trip_rows = [
        (conv, t, s, p, o, kind, lang, dt, f"{KG}conv:{conv}")
        for (conv, s, p, o, kind, lang, dt), t in triples.items()
    ]
    lines: dict[str, list[str]] = defaultdict(list)
    mentions_of: dict[str, int] = defaultdict(int)
    for conv, _t, s, p, o, kind, lang, dt, _d in trip_rows:
        lines[conv].append(nt_line(s, p, o, kind, lang, dt))
        if p == PRED_MENTIONS:
            mentions_of[o] += 1
    merged: dict[str, set[str]] = defaultdict(set)
    for u, c in canon.items():
        merged[c].add(u)
    datasets = []
    for counter, conv in enumerate(sorted(lines), start=1):
        payload = "\n".join(sorted(lines[conv]))
        datasets.append(
            (catalogue, f"{KG}conv:{conv}", conv, payload,
             hashlib.sha256(payload.encode()).hexdigest(), len(lines[conv]), counter)
        )
    entities = [(c, n, sorted(merged[c])) for c, n in mentions_of.items()]
    n_merged = sum(1 for u, c in canon.items() if u != c)
    convs = {r[0] for r in rows_tr}
    return {
        "triples": trip_rows,
        "datasets": datasets,
        "manifest": [(catalogue, sorted(lines))],
        "entities": entities,
        "summary": {"turns_in": len(rows_tr), "triples": len(trip_rows), "conversations": len(convs)},
        "stats": {
            "turns": len(rows_tr),
            "conversations": len(convs),
            "hot_conversation_share": round(sum(1 for c in convs if int(c[5:]) % 100 == 0) / len(convs), 4),
            "hot_turn_share": round(sum(1 for r in rows_tr if int(r[0][5:]) % 100 == 0) / len(rows_tr), 4),
            "escape_literal_share": round(sum(1 for r in rows_tr if ESCAPE_TAIL in r[3]) / len(rows_tr), 4),
            "gazetteer_rows": len(g.rows),
            "planted_near_duplicate_pairs": g.planted_pairs,
            "ambiguous_aliases": g.ambiguous,
            "entities_merged": n_merged,
            "names_redrawn": g.redrawn,
        },
    }
