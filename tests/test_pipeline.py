"""End-to-end pipeline over miniature fixtures (SURVEY §5: fixture
corpora exercising every predicate branch)."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import llm
from aurora_mito_etl_spark.pipeline import finalize, merge_filter, mesh, pubmed, pubtator
from aurora_mito_etl_spark.schema import validate


def _article(pmid, title, abstract, year="2015", with_history=False):
    hist = (
        '<PubmedData><History><PubMedPubDate PubStatus="pubmed">'
        f"<Year>{year}</Year></PubMedPubDate></History></PubmedData>"
        if with_history
        else ""
    )
    date = (
        f"<DateCompleted><Year>{year}</Year></DateCompleted>" if not with_history else ""
    )
    return f"""<PubmedArticle><MedlineCitation><PMID Version="1">{pmid}</PMID>{date}
<Article><ArticleTitle>{title}</ArticleTitle>
<Abstract><AbstractText>{abstract}</AbstractText></Abstract></Article>
</MedlineCitation>{hist}</PubmedArticle>"""


@pytest.fixture(scope="module")
def pubmed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pubmed_xml")
    arts = [
        # keep: inhibit + mitochondrial complex
        _article("1001", "Rotenone inhibits mitochondrial complex I",
                 "We show rotenone inhibits the mitochondrial complex I strongly."),
        # keep (history year fallback): NADH:ubiquinone phrasing.
        # NB the reference's FINAL regex (merge_filter.sh:83) requires a
        # ':'/dash or 'dependent|linked' connector after NADH — plain
        # "NADH dehydrogenase" would pass P5 but fail the final filter.
        _article("1002", "A novel blocker",
                 "Compound X blocks NADH:ubiquinone oxidoreductase activity.",
                 year="2010", with_history=True),
        # drop: year < 2000
        _article("1003", "Old inhibition work", "inhibits mitochondrial complex I", year="1998"),
        # drop: foreign-language bracket title
        _article("1004", "[Un article étranger]", "inhibits mitochondrial complex I"),
        # drop: empty abstract
        _article("1005", "No abstract paper", ""),
        # drop: no topical match
        _article("1006", "Unrelated title", "Plain physiology with no relevant terms."),
        # keep: tags + unicode cleanup exercised
        _article("1007", "Impaired complex <i>I</i> в mitochondria",
                 "Metformin <sup>1</sup> impairs mitochondrial  complex – I."),
    ]
    body = "<?xml version='1.0'?><PubmedArticleSet>" + "".join(arts) + "</PubmedArticleSet>"
    with gzip.open(d / "pubmed26n0001.xml.gz", "wt", encoding="utf-8") as f:
        f.write(body)
    return str(d)


def test_process_pubmed(spark, pubmed_dir):
    out = pubmed.process_pubmed(spark, pubmed_dir, year_min=2000).collect()
    got = {r["pmid"]: r for r in out}
    assert set(got) == {"1001", "1002", "1007"}
    assert got["1001"]["year"] == 2015
    assert got["1002"]["year"] == 2010  # history fallback
    # title terminator + tag strip + unicode fold + ws squeeze
    assert got["1007"]["title_abstract"].startswith("Impaired complex I")
    assert "<" not in got["1007"]["title_abstract"]
    assert "–" not in got["1007"]["title_abstract"]
    rep = validate(
        spark.createDataFrame([(r["pmid"], r["year"], r["title_abstract"]) for r in out],
                              "pmid string, year int, title_abstract string"),
        "pubmed",
    )
    assert rep.ok


MESH_DESC = """<?xml version='1.0'?><DescriptorRecordSet>
<DescriptorRecord><DescriptorUI>D000001</DescriptorUI>
 <DescriptorName><String>OrganicThing</String></DescriptorName>
 <TreeNumberList><TreeNumber>D02.092.471</TreeNumber></TreeNumberList></DescriptorRecord>
<DescriptorRecord><DescriptorUI>D000002</DescriptorUI>
 <DescriptorName><String>PharmaAction</String></DescriptorName>
 <TreeNumberList><TreeNumber>D27.505.519</TreeNumber></TreeNumberList></DescriptorRecord>
<DescriptorRecord><DescriptorUI>D000003</DescriptorUI>
 <DescriptorName><String>Anatomy</String></DescriptorName>
 <TreeNumberList><TreeNumber>A01.111</TreeNumber></TreeNumberList></DescriptorRecord>
</DescriptorRecordSet>"""

MESH_SUPP = """<?xml version='1.0'?><SupplementalRecordSet>
<SupplementalRecord SCRClass="1"><SupplementalRecordUI>C000001</SupplementalRecordUI>
 <SupplementalRecordName><String>mapped-compound</String></SupplementalRecordName>
 <RegistryNumber>0</RegistryNumber>
 <HeadingMappedToList><HeadingMappedTo><DescriptorReferredTo>
   <DescriptorUI>*D000002</DescriptorUI></DescriptorReferredTo></HeadingMappedTo>
 </HeadingMappedToList></SupplementalRecord>
<SupplementalRecord SCRClass="3"><SupplementalRecordUI>C000002</SupplementalRecordUI>
 <SupplementalRecordName><String>cas-compound</String></SupplementalRecordName>
 <RegistryNumber>50-00-0</RegistryNumber></SupplementalRecord>
<SupplementalRecord SCRClass="1"><SupplementalRecordUI>C000003</SupplementalRecordUI>
 <SupplementalRecordName><String>IACS-010759</String></SupplementalRecordName>
 <RegistryNumber></RegistryNumber></SupplementalRecord>
<SupplementalRecord SCRClass="2"><SupplementalRecordUI>C000004</SupplementalRecordUI>
 <SupplementalRecordName><String>not-kept-thing</String></SupplementalRecordName>
 <RegistryNumber>XYZ</RegistryNumber>
 <HeadingMappedToList><HeadingMappedTo><DescriptorReferredTo>
   <DescriptorUI>D000003</DescriptorUI></DescriptorReferredTo></HeadingMappedTo>
 </HeadingMappedToList></SupplementalRecord>
</SupplementalRecordSet>"""


@pytest.fixture(scope="module")
def mesh_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("mesh_xml")
    (d / "desc.xml").write_text(MESH_DESC)
    (d / "supp.xml").write_text(MESH_SUPP)
    return str(d / "desc.xml"), str(d / "supp.xml")


def test_process_mesh(spark, mesh_paths):
    bio, tags = mesh.process_mesh(spark, *mesh_paths)
    rows = {r["MeSH_UI"]: r for r in bio.collect()}
    # organic descriptor kept; pharma-only and anatomy descriptors not
    assert "D000001" in rows and rows["D000001"]["Type"] == "D"
    assert "D000002" not in rows and "D000003" not in rows
    # SCR keep tiers: mapped-to-pharma, CAS number, code-name+class1
    assert rows["C000001"]["OneTreeNumber"] == "D27.505.519"
    assert "C000002" in rows
    assert "C000003" in rows  # IACS-010759 code-name heuristic
    assert "C000004" not in rows
    tag_list = [r["tag"] for r in tags.collect()]
    assert tag_list == sorted(tag_list)
    assert "MESH:D000001" in tag_list and "MESH:C000003" in tag_list
    assert validate(bio, "mesh_bioactive").ok


@pytest.fixture(scope="module")
def pubtator_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("pubtator")
    rows = [
        "1001\tChemical\tMESH:D000001\trotenone\tresource",
        "1001\tChemical\tMESH:D000001\trotenone\tresource",  # dup annotation
        "1002\tChemical\tMESH:C000003\tiacs\tresource",
        "1003\tChemical\t\tno-tag\tresource",  # empty normalized id
        "1006\tChemical\tMESH:D999999\tunknown-tag\tresource",
        "1007\tChemical\tMESH:D000001\tmetformin\tresource",
    ]
    with gzip.open(d / "chem2pubtator.gz", "wt") as f:
        f.write("\n".join(rows) + "\n")
    return str(d / "chem2pubtator.gz")


def test_process_pubtator(spark, mesh_paths, pubtator_path):
    _bio, tags = mesh.process_mesh(spark, *mesh_paths)
    pmids = pubtator.process_pubtator(spark, pubtator_path, tags)
    assert sorted(r["pmid"] for r in pmids.collect()) == ["1001", "1002", "1007"]


def test_full_pipeline_end_to_end(spark, capsys, pubmed_dir, mesh_paths, pubtator_path):
    """pubmed → merge_filter → stub LLM → finalize, over fixtures."""
    abstracts = pubmed.process_pubmed(spark, pubmed_dir, year_min=2000)
    _bio, tags = mesh.process_mesh(spark, *mesh_paths)
    pmids = pubtator.process_pubtator(spark, pubtator_path, tags)

    filtered = merge_filter.merge_and_filter(
        abstracts,
        inhibitor_names=["# a comment", "xx", "oligomycin"],
        pubtator_pmids=pmids,
    )
    kept = {r["pmid"] for r in filtered.collect()}
    # 1001/1007 pass the final complex-I regex; 1002's NADH phrasing too
    assert kept == {"1001", "1002", "1007"}

    classified = llm.classify_documents(filtered, llm.stub_classifier)
    assert validate(classified, "pubmed_gpt").ok

    refs = finalize.ReferenceData(
        known_inhibitors=["Oligomycin", "oligomycins", "Piericidin", "Rotenone extra"],
        blacklist_raw=["*mitochondr*", "badword"],
        typo_pairs=[("analogs", ""), ("analog", "")],
        smiles_db={"Metformin": "CN(C)C(=N)NC(=N)N"},
        panel_smiles={"metformin": "CN(C)C(=N)NC(=N)N", "rotenone": "CCOC1CC2"},
        biguanide_refs={"biguanide": "NC(=N)NC(=N)N", "biguanide_motif": "NC(=N)N"},
    )
    new_rows, all_rows = finalize.build_release(
        classified, refs, spark, backend_factory=chem_fake()
    )
    new = new_rows.collect()
    assert all(r["confidence"] in ("YES", "probablyYES") for r in new)

    allr = all_rows.collect()
    assert [c for c in all_rows.columns] == finalize.RELEASE_COLUMNS
    by_name = {r["compound"]: r for r in allr}
    # curated knowns present with literal refs=100 → 'high' bin
    assert "Piericidin A" in by_name  # U2 curation swap
    assert "Piericidin" not in by_name
    known_row = by_name["Oligomycin"]
    assert known_row["pubmed_references"] == 100
    assert known_row["confidence_pubmed"] == "high"
    # ordering: refs desc, compound asc
    ordered = [(r["pubmed_references"], r["compound"]) for r in allr]
    assert ordered == sorted(ordered, key=lambda t: (-t[0], t[1]))
    assert validate(all_rows.withColumn(
        "pubmed_references", F.col("pubmed_references").cast("int")
    ), "processed_all").ok
    # the known-names and SMILES-cache tables are JVM local relations,
    # not Python RDDs whose every scan starts Python workers
    capsys.readouterr()
    all_rows.explain(mode="formatted")
    assert "applySchemaToPythonRDD" not in capsys.readouterr().out


def chem_fake():
    from aurora_mito_etl_spark.operators.chem import fake_backend

    return fake_backend


def test_curate_known_inhibitors():
    got = finalize.curate_known_inhibitors(
        ["Metformin", "metformins", "Met-formin", "Rotenone", "Piericidin", "Bongkrekic"]
    )
    # keep-first per normalized key; curation removes/adds fixed names
    assert "Metformin" in got
    assert "metformins" not in got and "Met-formin" not in got
    assert "Piericidin A" in got and "Bongkrekic acid" in got
    assert "Piericidin" not in got and "Bongkrekic" not in got


# The reference's pattern verbatim (merge_filter.sh:83-84);
# FINAL_TOPICAL_RE tests \b(?=complex) ahead of its (?=.*\bmitochondr).
VERBATIM_TOPICAL_RE = (
    r"(?i)(?:(?=.*\bmitochondr)\bcomplex(?:es)?\b[\s\-]*"
    r"(?:(?:I|1)(?:\s*[-–—−]\s*(?:II|2|III|3|IV|4|V|5))?)\b"
    r"|\bNADH\b(?:\s*[:\-–—−]\s*|[-\s]*(?:dependent|linked)\s+)?"
    r"(?:dehydrogenase(?:s)?|(?:ubiquinone|quinone)\s*oxidoreductase)\b)"
)

TOPICAL_CASES = [
    "mitochondrial complex I is inhibited",  # mitochondr before complex
    "complex I of the mitochondria",  # mitochondr after complex
    "complex I alone",  # mitochondr absent
    "inhibits complexes I–III in mitochondria",
    "mitochondrial complexes I - III",
    "complex-1 blockade in mitochondria",
    "Complex IV of mitochondria",  # IV is not a complex-I form
    "complex I\nin mitochondria",  # '.' does not cross the newline
    "mitochondria:\ncomplex I",
    "MITOCHONDRIAL COMPLEX i, MiToChOnDrIa",
    "xcomplex I mitochondria",  # no word boundary before complex
    "complexity of mitochondrial complex 1",
    "the complex, then complex I; mitochondrion",
    "NADH:ubiquinone oxidoreductase",
    "NADH dehydrogenase",  # no connector: not topical
    "NADH-linked dehydrogenases",
    "nadh – quinone oxidoreductase",
    "NADH dependent dehydrogenase",
    "NADHdehydrogenase",
    "",
    None,
]


def _kept(df, pattern):
    return {r["id"] for r in df.filter(F.col("text").rlike(pattern)).collect()}


def test_topical_regex_rewrite_keeps_the_same_rows(spark, pubmed_dir):
    """The reordered FINAL_TOPICAL_RE keeps exactly the rows the
    reference-verbatim pattern keeps."""
    crafted = spark.createDataFrame(
        list(enumerate(TOPICAL_CASES)), "id long, text string"
    )
    want = _kept(crafted, VERBATIM_TOPICAL_RE)
    assert _kept(crafted, merge_filter.FINAL_TOPICAL_RE) == want
    assert 0 < len(want) < len(TOPICAL_CASES)  # both outcomes exercised

    abstracts = pubmed.process_pubmed(spark, pubmed_dir, year_min=0).select(
        F.col("pmid").alias("id"), F.col("title_abstract").alias("text")
    )
    want = _kept(abstracts, VERBATIM_TOPICAL_RE)
    assert _kept(abstracts, merge_filter.FINAL_TOPICAL_RE) == want
    assert want
