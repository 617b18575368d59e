"""Seeded raw inputs for the reference pipeline, with planted truth.

Writes what the paper's DAG ingests:

* ``pubmed/pubmed-<k>.xml.gz`` — PubMed XML split over several gzip
  files, one ``PubmedArticle`` per article, ~1-2 KB abstracts;
* ``pubtator.tsv.gz`` — PubTator chemical annotations
  (pmid, type, MESH tag, mention, resource);
* ``mesh/desc.xml`` and ``mesh/supp.xml`` — MeSH descriptors and
  supplementary concept records;
* ``smiles.json`` — the name→SMILES dictionary of the release step.

Every article is given classes by construction (year, bracketed
title, topical phrasing, PubTator annotation, known-inhibitor mention,
classifier label, compound), and its text is assembled from
templates whose regex and classifier outcomes are fixed, so the
expected row count of every stage and the expected per-compound
``pubmed_references`` of the release follow from the classes alone
(:class:`Truth`). Filler words are lowercase and avoid every term the
stage regexes and the stub classifier look for.

The same seed gives byte-identical files (gzip headers carry no name
or time).
"""

from __future__ import annotations

import gzip
import io
import json
import os
import random
from dataclasses import dataclass, field

# Release reference data shared by the generator and the pipeline run.
KNOWN_INHIBITORS = ["Rotenone", "Piericidin", "Bongkrekic", "Mubritinib", "Fenpyroximate"]
BLACKLIST_RAW = ["*mitochondr*", "water"]
TYPO_PAIRS = [("analogs", ""), ("analog", "")]
PANEL_SMILES = {
    "metformin": "CN(C)C(=N)NC(=N)N",
    "phenformin": "NC(=N)NC(=N)NCCc1ccccc1",
    "rotenone_core": "COc1cc2c(cc1OC)OCC1Oc3ccccc3C(=O)C21",
}
BIGUANIDE_REFS = {"biguanide": "NC(=N)NC(=N)N", "biguanide_motif": "NC(=N)N"}
YEAR_MIN = 2000

_SMILES_POOL = [
    "c1ccccc1",
    "CC(=O)Nc1ccc(O)cc1",
    "CN(C)C(=N)NC(=N)N",
    "OC(=O)c1ccccc1O",
    "Cn1cnc2c1c(=O)n(C)c(=O)n2C",
    "CC(C)Cc1ccc(cc1)C(C)C(=O)O",
    "NC(=N)NC(=N)NCCc1ccccc1",
    "O=C(O)CCc1ccccc1",
    "COc1ccc2[nH]cc(CCN)c2c1",
    "Clc1ccc(cc1)C(=O)N",
]

_FILLER = (
    "we studied the effect of treatment on cellular respiration in primary "
    "cultured cells and tissue samples from adult animals under standard "
    "conditions with repeated measurements over several days using established "
    "protocols for oxygen consumption lactate release membrane potential and "
    "cell viability while controlling for dose time and culture density across "
    "independent experiments performed in triplicate by blinded observers who "
    "recorded all outcomes in a shared registry for later analysis by "
    "investigators at two sites"
).split()
_TISSUES = ["hepatocytes", "cardiomyocytes", "neurons", "myoblasts", "kidney cells"]
_SYLLABLES = ["zor", "va", "ti", "lo", "mex", "qua", "dra", "fen", "ciz", "ol", "ux",
              "py", "bel", "sar", "kin", "tol", "mur", "dex", "lin", "gor"]
_BANNED_SUBSTRINGS = (
    "inhibit", "antagoni", "block", "regulat", "impair", "repress", "mitochond",
    "complex", "nadh", "dehydrogenase", "oxidoreductase", "decrease", "reduce",
    "analog", "water",
) + tuple(k.lower() for k in KNOWN_INHIBITORS)

# Key sentence per (topical class, label); {c} is the compound name.
# "final" passes the pubmed topical filter and merge_filter's final
# regex; "topical_only" passes the first but not the second; "off"
# passes neither.
_KEY = {
    ("final", "YES"): [
        "{c} inhibits complex I activity in isolated mitochondria",
        "{c} inhibits NADH:ubiquinone oxidoreductase in intact cells",
    ],
    ("final", "probablyYES"): [
        "{c} impairs complex I function and reduces respiration of isolated mitochondria",
    ],
    ("final", "NO"): ["{c} blocks complex I assembly in isolated mitochondria"],
    ("topical_only", None): ["{c} inhibits mitochondrial complex III activity"],
    ("off", None): [
        "{c} inhibits cytochrome P450 activity in liver microsomes",
        "{c} binds mitochondrial complex I without functional change",
    ],
}


# Sizes of the generated input set.
ARTICLES = 1000
FILES = 4
COMPOUNDS = 150
DESCRIPTORS = 600
SCRS = 900
NOISE_PUBTATOR_PMIDS = 500


@dataclass
class Truth:
    """Expected outputs, decided by construction."""

    mesh_bioactive: int = 0
    pubtator_pmids: int = 0
    pubmed_rows: int = 0
    merge_filter_rows: int = 0
    classified_rows: int = 0
    processed_new_rows: int = 0
    # compound -> sorted distinct PMIDs whose YES/probablyYES reply names it
    compound_pmids: dict[str, list[str]] = field(default_factory=dict)
    # compound -> SMILES the release must carry ('' when unresolved)
    compound_smiles: dict[str, str] = field(default_factory=dict)
    known_release_names: list[str] = field(default_factory=list)
    raw_bytes: int = 0

    def to_json(self) -> dict:
        return dict(self.__dict__)


def _gzip_bytes(data: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as gz:
        gz.write(data)
    return buf.getvalue()


def _compound_names(rng: random.Random, n: int) -> list[str]:
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < n:
        name = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(3, 4)))
        low = name.lower()
        if low in seen or any(b in low for b in _BANNED_SUBSTRINGS):
            continue
        seen.add(low)
        names.append(name.capitalize())
    return names


def _abstract(rng: random.Random, key: str, extra: str | None) -> list[str]:
    """1-3 paragraphs of filler with the key sentence (and an optional
    known-inhibitor sentence) at random positions."""
    words = [rng.choice(_FILLER) for _ in range(rng.randint(170, 280))]
    sentences = [" ".join(words[i:i + 14]) for i in range(0, len(words), 14)]
    sentences.insert(rng.randrange(len(sentences) + 1), key)
    if extra:
        sentences.insert(rng.randrange(len(sentences) + 1), extra)
    text = ". ".join(sentences) + "."
    if rng.random() < 0.3:
        cut = text.find(". ", len(text) // 2)
        return [text[: cut + 1], text[cut + 2:]]
    return [text]


def _mesh(rng: random.Random) -> tuple[str, str, list[str], list[str], int]:
    """Descriptor and SCR XML; returns (desc_xml, supp_xml, bioactive
    tags, non-bioactive tags, bioactive row count)."""
    desc_parts = ["<?xml version='1.0'?>\n<DescriptorRecordSet>"]
    organic, pharma, other = [], [], []
    for i in range(DESCRIPTORS):
        ui = f"D{100000 + i:06d}"
        kind = rng.random()
        if kind < 0.5:
            trees = [f"D0{rng.randint(2, 6)}.{rng.randint(10, 999):03d}"]
            organic.append(ui)
        elif kind < 0.65:
            trees = [f"D27.{rng.randint(10, 999):03d}"]
            pharma.append(ui)
        else:
            trees = [f"{rng.choice(['C04', 'D08', 'G03', 'D12'])}.{rng.randint(10, 999):03d}"]
            other.append(ui)
        if rng.random() < 0.3:
            trees.append(f"{rng.choice(['E02', 'C06'])}.{rng.randint(10, 999):03d}")
        tn = "".join(f"<TreeNumber>{t}</TreeNumber>" for t in trees)
        desc_parts.append(
            f"<DescriptorRecord><DescriptorUI>{ui}</DescriptorUI>"
            f"<DescriptorName><String>descriptor {i}</String></DescriptorName>"
            f"<TreeNumberList>{tn}</TreeNumberList></DescriptorRecord>"
        )
    desc_parts.append("</DescriptorRecordSet>\n")

    supp_parts = ["<?xml version='1.0'?>\n<SupplementalRecordSet>"]
    kept_scr, dropped_scr = [], []
    for i in range(SCRS):
        ui = f"C{500000 + i:06d}"
        kind = rng.randrange(6)
        cls, rn, mapped = "1", "", None
        name = f"scr substance {i}"
        if kind == 0:
            mapped, keep = rng.choice(organic), True
        elif kind == 1:
            mapped, keep = rng.choice(pharma), True
        elif kind == 2:
            mapped, rn, keep = rng.choice(other), f"{rng.randint(50, 99999)}-{rng.randint(10, 99)}-{rng.randint(0, 9)}", True
        elif kind == 3:
            name, rn, keep = f"ABX-{rng.randint(100, 9999)}", rng.choice(["", "0"]), True
        elif kind == 4:
            name, cls, keep = f"QRT-{rng.randint(100, 9999)}", "2", False
        else:
            mapped, rn, keep = rng.choice(other), "EC 1.6.5.3", False
        heading = (
            "<HeadingMappedToList><HeadingMappedTo><DescriptorReferredTo>"
            f"<DescriptorUI>*{mapped}</DescriptorUI></DescriptorReferredTo>"
            "</HeadingMappedTo></HeadingMappedToList>"
            if mapped
            else ""
        )
        supp_parts.append(
            f'<SupplementalRecord SCRClass="{cls}"><SupplementalRecordUI>{ui}'
            f"</SupplementalRecordUI><SupplementalRecordName><String>{name}</String>"
            f"</SupplementalRecordName><RegistryNumber>{rn}</RegistryNumber>"
            f"{heading}</SupplementalRecord>"
        )
        (kept_scr if keep else dropped_scr).append(ui)
    supp_parts.append("</SupplementalRecordSet>\n")
    bio = [f"MESH:{u}" for u in organic + kept_scr]
    non_bio = [f"MESH:{u}" for u in pharma + other + dropped_scr]
    return "".join(desc_parts), "".join(supp_parts), bio, non_bio, len(bio)


def _article_xml(pmid: str, year: int, where: str, title: str, paragraphs: list[str]) -> str:
    completed = f"<DateCompleted><Year>{year}</Year></DateCompleted>" if where == "completed" else ""
    revised = f"<DateRevised><Year>{year}</Year></DateRevised>" if where == "revised" else ""
    hist_year = year if where == "history" else 2024
    abstract = "".join(f"<AbstractText>{p}</AbstractText>" for p in paragraphs)
    return (
        f'<PubmedArticle><MedlineCitation Status="MEDLINE"><PMID Version="1">{pmid}</PMID>'
        f"{completed}<Article><ArticleTitle>{title}</ArticleTitle>"
        f"<Abstract>{abstract}</Abstract></Article>{revised}</MedlineCitation>"
        '<PubmedData><History><PubMedPubDate PubStatus="received"><Year>1970</Year>'
        f'</PubMedPubDate><PubMedPubDate PubStatus="pubmed"><Year>{hist_year}</Year>'
        "</PubMedPubDate></History></PubmedData></PubmedArticle>\n"
    )


def generate(out_dir: str, seed: int) -> Truth:
    """Write one raw input set under ``out_dir``; returns its truth."""
    rng = random.Random(seed)
    truth = Truth()
    desc_xml, supp_xml, bio_tags, non_bio_tags, n_bio = _mesh(rng)
    truth.mesh_bioactive = n_bio

    compounds = _compound_names(rng, COMPOUNDS)
    # skewed popularity, so the release spans every confidence bin
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(compounds))]
    smiles_db: dict[str, str] = {}
    for i, c in enumerate(compounds):
        if i % 10 != 9:  # one in ten stays unresolved ('' SMILES)
            smiles_db[c] = "C" * (i % 4) + _SMILES_POOL[i % len(_SMILES_POOL)]

    pmids = rng.sample(range(10_000_000, 40_000_000), ARTICLES + NOISE_PUBTATOR_PMIDS)
    articles: list[str] = []
    pubtator: list[str] = []
    annotated_pmids: set[str] = set()
    for k in range(ARTICLES):
        pmid = str(pmids[k])
        year_ok = rng.random() < 0.85
        year = rng.randint(YEAR_MIN, 2024) if year_ok else rng.randint(1985, YEAR_MIN - 1)
        where = rng.choice(["completed", "completed", "revised", "history"])
        bracket = rng.random() < 0.03
        r = rng.random()
        topical = "final" if r < 0.45 else ("topical_only" if r < 0.7 else "off")
        label = None
        if topical == "final":
            label = rng.choices(["YES", "probablyYES", "NO"], [0.6, 0.25, 0.15])[0]
        annotated = rng.random() < 0.7
        known = rng.random() < 0.08
        compound = rng.choices(compounds, weights)[0]
        key = rng.choice(_KEY[(topical, label)]).replace("{c}", compound)
        extra = (
            f"effects were compared with {rng.choice(KNOWN_INHIBITORS).lower()} treatment"
            if known
            else None
        )
        title = f"{key} in {rng.choice(_TISSUES)}"
        if bracket:
            title = f"[{title}]"
        articles.append(_article_xml(pmid, year, where, title, _abstract(rng, key, extra)))

        tags = []
        if annotated:
            tags += rng.sample(bio_tags, rng.randint(1, 2))
            annotated_pmids.add(pmid)
        tags += rng.sample(non_bio_tags, rng.randint(0, 2))
        for tag in tags:
            pubtator.append(f"{pmid}\tChemical\t{tag}\t{compound.lower()}\tMESH")
        if rng.random() < 0.1:
            pubtator.append(f"{pmid}\tChemical\t\tunmapped mention\tPubTator3")

        if not (year_ok and not bracket and topical != "off"):
            continue
        truth.pubmed_rows += 1
        if topical != "final" or known or not annotated:
            continue
        truth.merge_filter_rows += 1
        if label != "NO":
            truth.processed_new_rows += 1
            truth.compound_pmids.setdefault(compound, []).append(pmid)
    for k in range(NOISE_PUBTATOR_PMIDS):
        pmid = str(pmids[ARTICLES + k])
        pubtator.append(f"{pmid}\tChemical\t{rng.choice(bio_tags)}\tnoise\tMESH")
        annotated_pmids.add(pmid)
    truth.classified_rows = truth.merge_filter_rows
    truth.pubtator_pmids = len(annotated_pmids)
    truth.compound_pmids = {c: sorted(set(p)) for c, p in sorted(truth.compound_pmids.items())}
    truth.compound_smiles = {c: smiles_db.get(c, "") for c in truth.compound_pmids}
    truth.known_release_names = curated_known()

    files: dict[str, bytes] = {
        "mesh/desc.xml": desc_xml.encode(),
        "mesh/supp.xml": supp_xml.encode(),
        "pubtator.tsv.gz": _gzip_bytes(("\n".join(pubtator) + "\n").encode()),
        "smiles.json": json.dumps(smiles_db, sort_keys=True).encode(),
    }
    per_file = -(-len(articles) // FILES)
    for f in range(FILES):
        body = "".join(articles[f * per_file:(f + 1) * per_file])
        xml = f"<?xml version='1.0'?>\n<PubmedArticleSet>\n{body}</PubmedArticleSet>\n"
        files[f"pubmed/pubmed-{f:02d}.xml.gz"] = _gzip_bytes(xml.encode())
    for rel, data in files.items():
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
        truth.raw_bytes += len(data)
    return truth


def curated_known() -> list[str]:
    """Names the release lists as known inhibitors (the engine's own
    curation of :data:`KNOWN_INHIBITORS`)."""
    from aurora_mito_etl_spark.pipeline.finalize import curate_known_inhibitors

    return curate_known_inhibitors(KNOWN_INHIBITORS)
