"""Seeded DCAT catalogue generator and its expected harvest outputs.

One N-Triples dump per call, written by this single Python process before
any timing starts. The graph carries the shapes the split has to handle:

- one root catalogue linking every dataset (``dcat:dataset``);
- publisher and contact-point nodes shared by many datasets;
- blank-node distributions with shared license nodes;
- nested catalogues (``dct:isPartOf``) whose closure is subtracted;
- duplicate, empty, whitespace-only and missing identifiers, plus
  blank-node datasets with and without an identifier;
- provenance chains deeper than the closure's 4-hop unrolled prefix;
- ``\\u``-escaped literals (the Python assist branch of the parser) and
  ECHAR-escaped literals;
- the lowercase ``rdf:type dcat:dataset`` typo the split removes.

:func:`expected` computes, in plain Python, what ``harvest.run_harvest``
must commit for the generated graph: every dataset's statement set after
closure and nested-catalogue subtraction, the identifier manifest and the
duplicate warnings.
"""

from __future__ import annotations

import random
from collections import defaultdict, deque

B = "http://data.example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
DCAT = "http://www.w3.org/ns/dcat#"
DCT = "http://purl.org/dc/terms/"
FOAF = "http://xmlns.com/foaf/0.1/"
VCARD = "http://www.w3.org/2006/vcard/ns#"
PROV = "http://www.w3.org/ns/prov#"
XSD = "http://www.w3.org/2001/XMLSchema#"

WORDS = (
    "water quality river basin air traffic census school budget energy "
    "forest road noise health clinic harbour rail transit soil crop "
    "weather station parcel zoning permit library museum grant survey"
).split()

# a term is (kind, value, lang, datatype); kind in iri / bnode / literal
Term = tuple


def iri(v: str) -> Term:
    return ("iri", v, None, None)


def bnode(label: str) -> Term:
    return ("bnode", "_:" + label, None, None)


def lit(v: str, lang: str | None = None, dt: str | None = None) -> Term:
    return ("literal", v, lang, dt)


_ECHAR = [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")]


def _escape(v: str) -> str:
    for raw, esc in _ECHAR:
        v = v.replace(raw, esc)
    return v


def _escape_u(v: str) -> str:
    """Source form with every non-ASCII character as ``\\uXXXX``."""
    return "".join(c if ord(c) < 128 else f"\\u{ord(c):04X}" for c in _escape(v))


def render_term(t: Term, u_escape: bool = False) -> str:
    kind, v, lang, dt = t
    if kind == "iri":
        return f"<{v}>"
    if kind == "bnode":
        return v
    body = '"' + (_escape_u(v) if u_escape else _escape(v)) + '"'
    if lang:
        return f"{body}@{lang}"
    if dt and dt != XSD + "string":
        return f"{body}^^<{dt}>"
    return body


def render_subject(s: str) -> str:
    return s if s.startswith("_:") else f"<{s}>"


def nt_line(s: str, p: str, o: Term, u_escape: bool = False) -> str:
    """Canonical N-Triples line, the form the harvest sink writes."""
    return f"{render_subject(s)} <{p}> {render_term(o, u_escape)} ."


class Catalogue:
    """A generated graph: ``stmts`` is a list of ``(subj, pred, obj_term)``."""

    def __init__(self) -> None:
        self.stmts: list[tuple[str, str, Term]] = []
        self.u_escaped: set[int] = set()  # statement indexes written with \u

    def add(self, s: str, p: str, o: Term, u_escape: bool = False) -> None:
        if u_escape:
            self.u_escaped.add(len(self.stmts))
        self.stmts.append((s, p, o))


def generate(n_datasets: int, seed: int) -> Catalogue:
    rng = random.Random(f"harvest:{seed}:{n_datasets}")
    cat = Catalogue()
    root = B + "catalog/root"
    cat.add(root, RDF_TYPE, iri(DCAT + "Catalog"))
    cat.add(root, DCT + "title", lit("Root catalogue", "en"))

    n_pub = max(4, n_datasets // 40)
    n_contact = max(4, n_datasets // 25)
    n_lic = 6
    n_sub = max(2, n_datasets // 150)
    for k in range(n_pub):
        p = f"{B}org/{k}"
        cat.add(p, RDF_TYPE, iri(FOAF + "Organization"))
        cat.add(p, FOAF + "name", lit(f"Agency {k} for {rng.choice(WORDS)}", "en"))
        if k % 3 == 0:  # a publisher that itself points at a contact
            cat.add(p, DCAT + "contactPoint", iri(f"{B}contact/{k % n_contact}"))
    for m in range(n_contact):
        c = f"{B}contact/{m}"
        cat.add(c, RDF_TYPE, iri(VCARD + "Organization"))
        cat.add(c, VCARD + "fn", lit(f"Desk {m}"))
        cat.add(c, VCARD + "hasEmail", iri(f"mailto:desk{m}@example.org"))
    for k in range(n_lic):
        lic = f"{B}license/{k}"
        cat.add(lic, DCT + "title", lit(f"License {k}"))
    for k in range(n_sub):
        sub = f"{B}catalog/sub{k}"
        cat.add(sub, RDF_TYPE, iri(DCAT + "Catalog"))
        cat.add(sub, DCT + "title", lit(f"Sub-catalogue {k}", "en"))
        cat.add(sub, DCAT + "themeTaxonomy", iri(f"{B}taxonomy/{k}"))
        cat.add(f"{B}taxonomy/{k}", DCT + "title", lit(f"Themes {k}"))
        cat.add(f"{B}taxonomy/{k}", DCT + "publisher", iri(f"{B}org/{k % n_pub}"))

    ids: list[str] = []
    for i in range(n_datasets):
        r = rng.random()
        ds = f"_:ds{i}" if r < 0.01 else f"{B}dataset/{i}"
        cat.add(root, DCAT + "dataset", bnode(f"ds{i}") if ds.startswith("_:") else iri(ds))
        cat.add(ds, RDF_TYPE, iri(DCAT + "Dataset"))
        if rng.random() < 0.004:
            cat.add(ds, RDF_TYPE, iri(DCAT + "dataset"))  # publisher typo (F1)
        q = rng.random()
        if ds.startswith("_:"):
            if q < 0.5:  # a blank dataset with an identifier is kept
                cat.add(ds, DCT + "identifier", lit(f"bn-{i}"))
        elif q < 0.02 and ids:
            cat.add(ds, DCT + "identifier", lit(rng.choice(ids)))  # duplicate
        elif q < 0.025:
            cat.add(ds, DCT + "identifier", lit(" "))  # blank: dropped (F3)
        elif q < 0.03:
            cat.add(ds, DCT + "identifier", lit(""))  # empty: URI fallback
        elif q < 0.04:
            pass  # no identifier: URI fallback
        else:
            ident = f"id-{i:07d}"
            ids.append(ident)
            cat.add(ds, DCT + "identifier", lit(ident))
        words = " ".join(rng.choice(WORDS) for _ in range(3))
        if rng.random() < 0.06:
            cat.add(ds, DCT + "title", lit(f"Données {words} №{i}", "fr"), u_escape=True)
        else:
            cat.add(ds, DCT + "title", lit(f"{words.title()} {i}", "en"))
        if rng.random() < 0.05:
            cat.add(ds, DCT + "description", lit(f'Said "{words}"\n\tsee C:\\data\\{i}'))
        if rng.random() < 0.3:
            cat.add(ds, DCT + "issued", lit(f"20{rng.randrange(10, 26)}-0{rng.randrange(1, 10)}-1{rng.randrange(0, 9)}", dt=XSD + "date"))
        cat.add(ds, DCT + "publisher", iri(f"{B}org/{rng.randrange(n_pub)}"))
        if rng.random() < 0.2:
            cat.add(ds, DCAT + "contactPoint", iri(f"{B}contact/{rng.randrange(n_contact)}"))
        for j in range(rng.choice((1, 1, 1, 2))):
            d = f"d{i}x{j}"
            cat.add(ds, DCAT + "distribution", bnode(d))
            cat.add("_:" + d, DCAT + "accessURL", iri(f"{B}files/{i}/{j}.csv"))
            if rng.random() < 0.3:
                cat.add("_:" + d, DCT + "license", iri(f"{B}license/{rng.randrange(n_lic)}"))
        if rng.random() < 0.02:
            cat.add(ds, DCT + "isPartOf", iri(f"{B}catalog/sub{rng.randrange(n_sub)}"))
        if rng.random() < 0.03:
            depth = rng.randrange(5, 9)
            prev = ds
            for h in range(depth):
                node = f"_:p{i}h{h}"
                cat.add(prev, PROV + "wasDerivedFrom", bnode(node[2:]))
                cat.add(node, DCT + "title", lit(f"step {h} of {i}"))
                prev = node
    return cat


def write_nt(cat: Catalogue, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for k, (s, p, o) in enumerate(cat.stmts):
            f.write(nt_line(s, p, o, u_escape=k in cat.u_escaped) + "\n")


def _closures(stmts: list, roots: list[str]) -> dict[str, tuple[set[str], int]]:
    """Forward closure (node set, depth) from each root over IRI/bnode
    objects."""
    out_edges: dict[str, list[str]] = defaultdict(list)
    for s, _p, o in stmts:
        if o[0] != "literal":
            out_edges[s].append(o[1])
    res = {}
    for r in roots:
        seen = {r}
        depth = 0
        frontier = deque([(r, 0)])
        while frontier:
            n, d = frontier.popleft()
            depth = max(depth, d)
            for m in out_edges.get(n, ()):
                if m not in seen:
                    seen.add(m)
                    frontier.append((m, d + 1))
        res[r] = (seen, depth)
    return res


def expected(cat: Catalogue, catalogue_name: str) -> dict:
    """What the harvest commits, plus the input statistics."""
    by_subj: dict[str, list[int]] = defaultdict(list)
    for k, (s, _p, _o) in enumerate(cat.stmts):
        by_subj[s].append(k)
    typo = (RDF_TYPE, ("iri", DCAT + "dataset", None, None))
    stmts = [st for st in cat.stmts if (st[1], st[2]) != typo]
    ds_subjects = sorted({s for s, p, o in stmts if p == RDF_TYPE and o[1] == DCAT + "Dataset"})
    cat_roots = {s for s, p, o in stmts if p == RDF_TYPE and o[1] == DCAT + "Catalog"}
    ident: dict[str, list[str]] = defaultdict(list)
    for s, p, o in stmts:
        if p == DCT + "identifier":
            ident[s].append(o[1])

    closures = _closures(stmts, ds_subjects + sorted(cat_roots))
    lines_of_subj: dict[str, list[str]] = defaultdict(list)
    for s, p, o in stmts:
        lines_of_subj[s].append(nt_line(s, p, o))

    datasets = []  # (subj, identifier, lines)
    max_depth = 0
    for d in ds_subjects:
        dct_id = min(ident[d]) if ident[d] else None
        if dct_id == "":
            dct_id = None
        uri_form = None if d.startswith("_:") else d
        identifier = dct_id if dct_id is not None else uri_form
        if identifier is None or identifier.strip() == "":
            continue
        nodes, depth = closures[d]
        max_depth = max(max_depth, depth)
        removed: set[str] = set()
        for c in nodes & cat_roots:
            removed |= closures[c][0]
        lines = [ln for n in nodes - removed for ln in lines_of_subj.get(n, ())]
        if lines:
            datasets.append((d, identifier, lines))

    order = sorted(datasets, key=lambda x: (x[1], x[0]))
    counts: dict[str, int] = defaultdict(int)
    for _d, ident_v, _l in datasets:
        counts[ident_v] += 1
    n_rows = sum(len(x[2]) for x in datasets)
    shared = {o[1] for _s, _p, o in stmts if o[0] == "iri" and ("/org/" in o[1] or "/contact/" in o[1] or "/license/" in o[1])}
    return {
        "datasets": [(d, ln) for d, _i, lines in datasets for ln in lines],
        "manifest": [(catalogue_name, [x[1] for x in order])],
        "warnings": sorted((catalogue_name, k, v) for k, v in counts.items() if v > 1),
        "summary": {
            "n_statements": len(cat.stmts),
            "n_datasets": len(datasets),
            "n_dataset_statements": n_rows,
        },
        "stats": {
            "statements": len(cat.stmts),
            "dataset_subjects": len(ds_subjects),
            "datasets_kept": len(datasets),
            "nested_catalogues": len(cat_roots) - 1,
            "max_closure_depth": max_depth,
            "shared_node_share": round(
                sum(len(by_subj[n]) for n in shared) / len(cat.stmts), 4
            ),
            "u_escaped_line_share": round(len(cat.u_escaped) / len(cat.stmts), 4),
            "distinct_statements_in_datasets": len({ln for _d, _i, ls in datasets for ln in ls}),
        },
    }
