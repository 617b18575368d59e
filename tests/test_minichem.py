"""Pure-Python mini-cheminformatics kernel (operators/minichem.py).

The load-bearing property is ORDER INVARIANCE: two SMILES writings of
the same molecular graph must canonicalize identically — that is what
makes D2 dedup real chemistry instead of string matching.
"""

from __future__ import annotations

import random

import pytest

from aurora_mito_etl_spark.operators import chem
from aurora_mito_etl_spark.operators.minichem import (
    SmilesError,
    _write,
    canonical_ranks,
    canonical_smiles,
    has_substructure,
    largest_fragment,
    morgan_bit_fp,
    morgan_count_fp,
    parse_smiles,
)

METFORMIN = "CN(C)C(=N)NC(=N)N"
PHENFORMIN = "NC(=N)NC(=N)NCCc1ccccc1"
BIGUANIDE = "NC(=N)NC(=N)N"
ASPIRIN = "CC(=O)Oc1ccccc1C(=O)O"
IBUPROFEN = "CC(C)Cc1ccc(cc1)C(C)C(=O)O"


def test_canonical_unifies_equivalent_writings():
    assert len({canonical_smiles(s) for s in ("CCO", "OCC", "C(O)C")}) == 1
    assert canonical_smiles("c1ccc(cc1)O") == canonical_smiles("Oc1ccccc1")
    assert canonical_smiles("C1CCCC1C") == canonical_smiles("CC1CCCC1")
    # ring closure digit choice is irrelevant
    assert canonical_smiles("C1CCCCC1") == canonical_smiles("C2CCCCC2")


def test_canonical_distinguishes_different_molecules():
    outs = {
        canonical_smiles(s)
        for s in (METFORMIN, PHENFORMIN, ASPIRIN, IBUPROFEN, "CCO", "CCN")
    }
    assert len(outs) == 6


def test_randomized_rewrite_invariance():
    """Write each molecule 25 times with random DFS orders; every
    variant must re-canonicalize to the same string."""
    rng = random.Random(7)
    for s in (METFORMIN, PHENFORMIN, ASPIRIN, IBUPROFEN, "C1CCCCC1",
              "[nH]1cccc1", "O=[N+]([O-])c1ccccc1"):
        mol = parse_smiles(s)
        frag = largest_fragment(mol)
        canon = canonical_smiles(s)
        assert canon is not None
        for _ in range(25):
            perm = {i: rng.random() for i in frag}
            alt = _write(
                mol, frag, canonical_ranks(mol, frag),
                order_key=lambda i: perm[i],
            )
            assert canonical_smiles(alt) == canon, (s, alt)


def test_largest_fragment_and_parse_errors():
    assert canonical_smiles("CCO.[Na+]") == canonical_smiles("CCO")
    assert canonical_smiles("not a smiles") is None
    assert canonical_smiles("") is None
    assert canonical_smiles("C1CC") is None  # unclosed ring
    assert canonical_smiles("C(C") is None  # unbalanced branch
    with pytest.raises(SmilesError):
        parse_smiles("C1CC")


def test_substructure_matching():
    assert has_substructure(BIGUANIDE, METFORMIN)
    assert has_substructure(BIGUANIDE, PHENFORMIN)
    assert not has_substructure(BIGUANIDE, ASPIRIN)
    assert has_substructure("c1ccccc1", ASPIRIN)
    assert not has_substructure("c1ccccc1", METFORMIN)
    # charge must match: nitro N+ is not a plain N environment
    assert has_substructure("[N+](=O)[O-]", "O=[N+]([O-])c1ccccc1")
    # reference mol_from_smiles parity: the target is reduced to its
    # largest fragment, so a query must never match only a counterion
    assert not has_substructure("Cl", "CN(C)C(=N)NC(=N)N.Cl")
    # ... but still matches when the parent itself carries it
    assert has_substructure("Cl", "ClCC(=O)O.[Na+]")


def test_fingerprint_similarity_ordering():
    m = morgan_count_fp(METFORMIN)
    p = morgan_count_fp(PHENFORMIN)
    d = morgan_count_fp("NCCc1ccc(O)c(O)c1")  # dopamine
    assert chem.tanimoto(m, m) == 1.0
    # shared biguanide core dominates: metformin~phenformin >> ~dopamine
    assert chem.tanimoto(m, p) > chem.tanimoto(m, d)
    bits = morgan_bit_fp(METFORMIN)
    assert bits and all(v == 1 for v in bits.values())
    assert all(0 <= k < 2048 for k in bits)


def test_fingerprint_is_order_invariant():
    a = morgan_count_fp("CN(C)C(=N)NC(=N)N")
    b = morgan_count_fp("N(C(=N)N(C)C)C(N)=N")  # same molecule rewritten
    assert a == b


def test_minichem_backend_via_operators(spark):
    """D2 canonicalization through the Spark operator with the real
    pure-Python backend: scrambled writings of the same molecule land
    in one canonical group."""
    rows = [
        (1, "CN(C)C(=N)NC(=N)N"),
        (2, "N(C(=N)N(C)C)C(N)=N"),  # metformin, reordered
        (3, "CC(=O)Oc1ccccc1C(=O)O"),
        (4, "O=C(C)Oc1ccccc1C(O)=O"),  # aspirin, reordered
        (5, "garbage smiles"),
    ]
    df = spark.createDataFrame(rows, "id long, SMILES string")
    out = chem.canonicalize_smiles(
        df, backend_factory=chem.minichem_backend
    ).collect()
    got = {r["id"]: r["SMILES_canonical"] for r in out}
    assert got[1] == got[2] and got[1] is not None
    assert got[3] == got[4] and got[3] is not None
    assert got[1] != got[3]
    assert got[5] is None


# ---------------------------------------------------------------------------
# Property-based invariance over random molecular graphs
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from aurora_mito_etl_spark.operators.minichem import Atom, Mol


@st.composite
def random_mols(draw):
    """Random connected multigraph-free molecule: a spanning tree over
    3..10 atoms plus up to 3 extra ring edges, organic-subset
    elements, bond orders 1-3."""
    n = draw(st.integers(3, 10))
    elements = draw(
        st.lists(st.sampled_from(["C", "N", "O", "S", "P"]), min_size=n, max_size=n)
    )
    mol = Mol()
    for el in elements:
        mol.add_atom(Atom(el))
    edges = set()
    for i in range(1, n):
        parent = draw(st.integers(0, i - 1))
        order = draw(st.integers(1, 3))
        mol.add_bond(i, parent, order)
        edges.add(frozenset((i, parent)))
    for _ in range(draw(st.integers(0, 3))):
        a = draw(st.integers(0, n - 1))
        b = draw(st.integers(0, n - 1))
        if a != b and frozenset((a, b)) not in edges:
            mol.add_bond(a, b, draw(st.integers(1, 2)))
            edges.add(frozenset((a, b)))
    return mol


@settings(max_examples=150, deadline=None)
@given(random_mols(), st.randoms(use_true_random=False))
def test_property_canonical_is_order_invariant(mol, rng):
    """For ANY random molecular graph: every random DFS writing parses
    back to the same canonical SMILES."""
    atoms = list(range(len(mol.atoms)))
    ranks = canonical_ranks(mol)
    base = _write(mol, atoms, ranks)
    canon = canonical_smiles(base)
    assert canon is not None
    for _ in range(5):
        perm = {i: rng.random() for i in atoms}
        alt = _write(mol, atoms, ranks, order_key=lambda i: perm[i])
        assert canonical_smiles(alt) == canon, (base, alt)


@settings(max_examples=500, deadline=None)
@given(random_mols())
def test_property_fingerprint_and_selfmatch(mol):
    """Fingerprints are total and self-match holds; canonicalization
    is IDEMPOTENT, so the composed tautomer-level fingerprint
    fp∘canonical is stable under re-canonicalization.

    NOTE the invariant is deliberately NOT fp(canonical(s)) == fp(s):
    canonical_smiles identity is tautomer-level (amidine 1,3-shifts
    unify 'NC=NC' with 'N=CNC') while morgan_count_fp is
    tautomer-sensitive (reference D4 prep has no tautomer step), so
    canonicalization may legitimately pick the other tautomer."""
    from aurora_mito_etl_spark.operators.minichem import tautomer_variants

    atoms = list(range(len(mol.atoms)))
    s = _write(mol, atoms, canonical_ranks(mol))
    fp = morgan_count_fp(s)
    assert fp is not None and sum(fp.values()) == 3 * len(atoms)
    c = canonical_smiles(s)
    assert c is not None
    assert canonical_smiles(c) == c, (s, c)
    # tautomer-level identity: EVERY bounded tautomer placement of the
    # molecule canonicalizes to the same string (hence fp∘canonical is
    # a well-defined tautomer-level fingerprint) — the non-vacuous form
    # of the deleted fp(canonical(s)) == fp(s) invariant.
    for v in tautomer_variants(mol)[:8]:
        sv = _write(v, atoms, canonical_ranks(v))
        assert canonical_smiles(sv) == c, (s, sv, c)
    assert has_substructure(s, s)


def test_amidine_tautomer_unification_regression():
    """Pinned hypothesis falsifier (r7): the amidine pair NC=NC /
    N=CNC. Canonical SMILES must unify the tautomers (reference
    TautomerCanonicalize parity); fingerprints stay tautomer-
    sensitive, but the composed tautomer-level fingerprint agrees."""
    a, b = "NC=NC", "N=CNC"
    ca, cb = canonical_smiles(a), canonical_smiles(b)
    assert ca is not None and ca == cb, (ca, cb)
    assert canonical_smiles(ca) == ca
    # raw fingerprints differ across tautomers — documented design
    assert morgan_count_fp(a) != morgan_count_fp(b)
    # each tautomer still embeds in itself
    assert has_substructure(a, a) and has_substructure(b, b)


def test_tautomer_shift_refuses_saturated_acceptor_regression():
    """Pinned hypothesis falsifier: in CC(C)(N(C=N)(C)C)C the amidine
    carbon's single-bonded N already has three neighbours, so moving
    the double bond onto it would write a five-bond N. The shift is
    refused (the acceptor twin of the donor guard): the molecule is
    its own only tautomer variant and canonicalization is stable."""
    from aurora_mito_etl_spark.operators.minichem import tautomer_variants

    smi = "CC(C)(N(C=N)(C)C)C"
    mol = parse_smiles(smi)
    assert len(tautomer_variants(mol)) == 1
    c = canonical_smiles(smi)
    assert c is not None and canonical_smiles(c) == c
    atoms = list(range(len(mol.atoms)))
    for v in tautomer_variants(mol):
        assert canonical_smiles(_write(v, atoms, canonical_ranks(v))) == c


def test_aromatize_unifies_kekule_and_aromatic_forms():
    pairs = [
        ("c1ccccc1", "C1=CC=CC=C1"),
        ("c1ccncc1", "C1=CC=NC=C1"),
        ("[nH]1cccc1", "N1C=CC=C1"),
        ("o1cccc1", "O1C=CC=C1"),
        ("s1cccc1", "S1C=CC=C1"),
        ("c1ccc2ccccc2c1", "C1=CC2=CC=CC=C2C=C1"),       # naphthalene
        ("c1ccc2[nH]ccc2c1", "C1=CC2=C(C=C1)C=CN2"),     # indole
        ("CC(=O)Oc1ccccc1C(=O)O", "CC(=O)OC1=CC=CC=C1C(=O)O"),
    ]
    for a, b in pairs:
        ca, cb = canonical_smiles(a), canonical_smiles(b)
        assert ca is not None and ca == cb, (a, b, ca, cb)


def test_aromatize_leaves_nonaromatic_rings_alone():
    # partially saturated / non-alternating rings must NOT aromatize
    assert canonical_smiles("C1CCCCC1") != canonical_smiles("c1ccccc1")
    assert canonical_smiles("C1CCC=CC1") != canonical_smiles("c1ccccc1")
    # and substructure respects the unified perception
    assert has_substructure("c1ccccc1", "CC1=CC=CC=C1")  # kekule toluene
    assert not has_substructure("c1ccccc1", "C1CCCCC1")


def test_ring_closure_bond_conflict_rejected():
    """Standard SMILES readers reject mismatched explicit ring-bond
    symbols; silently letting one side win would canonicalize two
    disagreeing inputs without diagnostic (ADVICE r6)."""
    import pytest

    from aurora_mito_etl_spark.operators.minichem import (
        SmilesError,
        parse_smiles,
    )

    with pytest.raises(SmilesError, match="conflicting ring-closure"):
        parse_smiles("C-1CCCC=1")
    # agreeing explicit symbols and one-sided explicit symbols are fine
    assert parse_smiles("C=1CCCC=1") is not None
    assert parse_smiles("C1CCCC=1") is not None
    assert parse_smiles("C=1CCCC1") is not None


# ---------------------------------------------------------------------------
# Uncharging (VERDICT r6 ask #3: reference Uncharger semantics,
# finalize_realease.py:230-249 canonic and :352-430 D4 prep)
# ---------------------------------------------------------------------------


def test_uncharge_unifies_salts_and_protonated_forms():
    pairs = [
        ("C[NH3+]", "CN"),                          # protonated amine
        ("CC(=O)[O-]", "CC(=O)O"),                  # carboxylate
        ("CC(=O)[O-].[Na+]", "CC(=O)O"),            # salt: counterion dropped first
        ("CN(C)C(=N)NC(=N)N.Cl", METFORMIN),        # metformin hydrochloride
        ("[NH2+]=C(N)NC(=N)N", BIGUANIDE),          # protonated biguanide
        ("c1cc[nH+]cc1", "c1ccncc1"),               # pyridinium -> pyridine
        ("[NH3+]CC(=O)[O-]", "NCC(=O)O"),           # simple zwitterion
    ]
    for charged, neutral in pairs:
        assert canonical_smiles(charged) == canonical_smiles(neutral), (
            charged,
            neutral,
        )


def test_uncharge_respects_permanent_cations():
    # quaternary N+ has no proton to shed — stays charged
    assert "[N+]" in canonical_smiles("C[N+](C)(C)C")
    # betaine: the permanent cation retains one balancing anion
    bet = canonical_smiles("[O-]C(=O)CC[N+](C)(C)C")
    assert "[N+]" in bet and "[O-]" in bet
    # and it does NOT unify with the fully neutral analogue
    assert bet != canonical_smiles("OC(=O)CCN(C)C")


def test_uncharged_fingerprint_and_substructure_match_neutral():
    assert morgan_count_fp("CC(=O)[O-].[Na+]") == morgan_count_fp("CC(=O)O")
    assert morgan_count_fp("CN(C)C(=N)NC(=N)N.Cl") == morgan_count_fp(METFORMIN)
    # neutral biguanide pattern must hit the protonated target (the
    # reference preps both sides through its uncharger)
    assert has_substructure(BIGUANIDE, "NC(=[NH2+])NC(=N)N")
    assert has_substructure(BIGUANIDE, "CN(C)C(=N)NC(=N)N.Cl")


def test_property_uncharge_is_order_invariant():
    """Canonical SMILES of charged inputs must be invariant under
    fragment reordering and atom-rewriting of the SMILES string."""
    rng = random.Random(11)
    cases = [
        "CC(=O)[O-].[Na+]",
        "[NH3+]CC(=O)[O-]",
        "[O-]C(=O)CC[N+](C)(C)C",
        "CN(C)C(=N)NC(=N)N.Cl",
    ]
    for s in cases:
        base = canonical_smiles(s)
        assert base is not None
        # fragment order permutation
        frags = s.split(".")
        for _ in range(4):
            rng.shuffle(frags)
            assert canonical_smiles(".".join(frags)) == base, (s, frags)
        # re-write from the canonical form round-trips
        assert canonical_smiles(base) == base, (s, base)


def test_fragment_selection_is_kekulization_invariant():
    """Code-review r7 finding: largest_fragment's tie-break must see
    the AROMATIZED graph — selecting on the raw parse made a
    tied-fragment salt keep different fragments depending on how the
    input was kekulized."""
    a = canonical_smiles("C1=CC=CC=C1.c1ccncc1")
    b = canonical_smiles("c1ccccc1.C1=CC=NC=C1")
    assert a == b == canonical_smiles("c1ccncc1")  # pyridine wins both


def test_uncharge_retention_is_kekulization_invariant():
    """Code-review r7 finding: zwitterion-parity anion retention must
    rank atoms on the aromatized graph, or which anion keeps its
    charge flips with the input's kekulization."""
    a = canonical_smiles("[O-]c1ccc(C[N+](C)(C)C)cc1C(=O)[O-]")
    b = canonical_smiles("[O-]C1=CC=C(C[N+](C)(C)C)C=C1C(=O)[O-]")
    assert a == b
    # kekulized pyridinium unifies with pyridine (uncharge then the
    # second aromatize pass picks the now-neutral ring up)
    assert canonical_smiles("C1=CC=[NH+]C=C1") == canonical_smiles("c1ccncc1")
