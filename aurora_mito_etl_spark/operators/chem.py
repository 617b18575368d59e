"""Cheminformatics panel operators (SURVEY §2.10 D2-D4, §2.3 J7/J8).

The reference scores every candidate compound's fingerprint against
a broadcast panel of known inhibitors (BulkTanimotoSimilarity +
top-k mean + best-ref, reference scripts/finalize_realease.py:116-227)
and against a fixed biguanide panel with Tversky(α=0.7,β=0.3)/Dice +
tautomer-aware substructure flags (:275-451). Output columns per
reference etl/schema/DATA_DICTIONARY.md:30-49.

Spark shape: both panels are tiny (≤10² structures) → they are
captured in the closure of ONE iterator-form Arrow UDF,
:func:`score_panels`, which prepares the backend and both reference
fingerprint sets once per task and scores each row against both
panels in one pass — the crossJoin the reference conceptually
performs never materializes (SURVEY §2.3 J7 'preferred scale
path'). Every best-of (panel max, Tversky and Dice bests) goes
through the one tie-to-first-ref helper :func:`_best`.

Chemistry itself is pluggable: the RDKit backend is imported lazily
(not installed in CI images); the deterministic `fake_backend` keeps
every metric's *shape* (identity → 1.0, disjoint → 0.0, symmetry for
Tanimoto/Dice, asymmetry for Tversky) so the Spark plumbing is fully
tested offline.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from aurora_mito_etl_spark.operators.aggregates import threshold_label

# ---------------------------------------------------------------------------
# Backends
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ChemBackend:
    """Minimal chemistry surface the operators need.

    The reference uses two distinct fingerprints: a 2048-bit Morgan
    vector for the known-inhibitor Tanimoto panel
    (finalize_realease.py:119-123,146-165) and a count Morgan
    fingerprint on a fragment-cleaned mol for the biguanide block
    (:298,333-343). `fingerprint` is the count form (D4);
    `fingerprint_panel`, when set, is the panel form (D3) — None
    falls back to `fingerprint` (the fake backend has one notion).
    """

    canonicalize: Callable[[str], str | None]
    fingerprint: Callable[[str], dict[int, int] | None]  # count fingerprint
    has_substructure: Callable[[str, str], bool]  # (query, target)
    fingerprint_panel: Callable[[str], dict[int, int] | None] | None = None


def fake_backend() -> ChemBackend:
    """Deterministic chemistry stand-in (no RDKit): canonical form is
    a whitespace-stripped uppercase string; the 'fingerprint' is the
    multiset of character trigrams; substructure is substring match.
    Metrics behave correctly at the extremes, which is what the
    plumbing tests pin down."""

    def canon(smiles: str) -> str | None:
        s = (smiles or "").strip()
        if not s or " " in s:
            return None
        return s.upper()

    def fp(smiles: str) -> dict[int, int] | None:
        s = canon(smiles)
        if s is None:
            return None
        grams: dict[int, int] = {}
        padded = f"^^{s}$$"
        for i in range(len(padded) - 2):
            # crc32, not hash(): str hash is per-process randomized,
            # which would make executors disagree.
            key = zlib.crc32(padded[i : i + 3].encode())
            grams[key] = grams.get(key, 0) + 1
        return grams

    def sub(query: str, target: str) -> bool:
        q, t = canon(query), canon(target)
        return bool(q and t and q in t)

    return ChemBackend(canon, fp, sub)


def rdkit_backend() -> ChemBackend:
    """Real chemistry via RDKit (deferred import). Mirrors the
    reference's choices exactly so `tools/chem_parity.py` can replay
    fixtures against the reference algorithm wherever RDKit exists:

    - canonicalize (D2, finalize_realease.py:234-249): Cleanup →
      Normalizer → Uncharger → canonical tautomer → non-isomeric
      canonical SMILES.
    - fingerprint (D4, :298,300-343): Morgan radius-2 COUNT
      fingerprint of the prepared mol (largest fragment, uncharge,
      RemoveHs).
    - fingerprint_panel (D3, :119-123,146-165): Morgan radius-2
      2048-BIT fingerprint (includeChirality, useBondTypes) of the
      plain sanitized mol.
    - has_substructure (:363-375): tautomer-aware — any tautomer of
      the prepared query matches the prepared target.
    """
    from rdkit import Chem
    from rdkit.Chem import rdFingerprintGenerator
    from rdkit.Chem.MolStandardize import rdMolStandardize

    bit_gen = rdFingerprintGenerator.GetMorganGenerator(
        radius=2, includeChirality=True, useBondTypes=True, fpSize=2048
    )
    count_gen = rdFingerprintGenerator.GetMorganGenerator(radius=2)
    normalizer = rdMolStandardize.Normalizer()
    uncharger = rdMolStandardize.Uncharger()
    tautomer = rdMolStandardize.TautomerEnumerator()

    def canon(smiles: str) -> str | None:
        mol = Chem.MolFromSmiles(smiles or "")
        if mol is None:
            return None
        mol = rdMolStandardize.Cleanup(mol)
        mol = normalizer.normalize(mol)
        mol = uncharger.uncharge(mol)
        mol = tautomer.Canonicalize(mol)
        return Chem.MolToSmiles(mol, isomericSmiles=False)

    def _prepared(smiles: str):
        """Reference mol prep for the biguanide block: largest
        fragment → sanitize → uncharge → RemoveHs."""
        mol = Chem.MolFromSmiles(smiles or "")
        if mol is None:
            return None
        frags = Chem.GetMolFrags(mol, asMols=True, sanitizeFrags=True)
        if not frags:
            return None
        frag = max(frags, key=lambda m: m.GetNumHeavyAtoms())
        frag = uncharger.uncharge(frag)
        return Chem.RemoveHs(frag)

    def fp(smiles: str) -> dict[int, int] | None:
        mol = _prepared(smiles)
        if mol is None:
            return None
        vec = count_gen.GetCountFingerprint(mol)
        return dict(vec.GetNonzeroElements())

    def fp_panel(smiles: str) -> dict[int, int] | None:
        mol = Chem.MolFromSmiles(smiles or "")
        if mol is None:
            return None
        bv = bit_gen.GetFingerprint(mol)
        return {b: 1 for b in bv.GetOnBits()}

    def sub(query: str, target: str) -> bool:
        q = _prepared(query)
        t = _prepared(target)
        if q is None or t is None:
            return False
        for q_tau in tautomer.Enumerate(q):
            if t.HasSubstructMatch(q_tau):
                return True
        return False

    return ChemBackend(canon, fp, sub, fp_panel)


def minichem_backend() -> ChemBackend:
    """REAL pure-Python chemistry (operators/minichem.py): SMILES →
    molecular graph, Morgan-refinement canonicalization (invariant
    under atom reordering — the property D2 dedup actually needs),
    ECFP-style circular count/bit fingerprints, and backtracking
    subgraph-isomorphism substructure match. Scope limits vs RDKit
    (no aromatization/tautomers/uncharging) are documented in the
    module docstring; `tools/chem_parity.py` remains the bridge to
    full RDKit semantics on hosts that have it."""
    from aurora_mito_etl_spark.operators import minichem as mc

    def canon(smiles: str) -> str | None:
        return mc.canonical_smiles(smiles or "")

    def fp(smiles: str) -> dict[int, int] | None:
        return mc.morgan_count_fp(smiles or "", radius=2, largest_only=True)

    def fp_panel(smiles: str) -> dict[int, int] | None:
        return mc.morgan_bit_fp(smiles or "", radius=2, n_bits=2048)

    def sub(query: str, target: str) -> bool:
        return mc.has_substructure(query or "", target or "")

    return ChemBackend(canon, fp, sub, fp_panel)


def default_backend() -> ChemBackend:
    try:
        return rdkit_backend()
    except ImportError:
        return minichem_backend()


BackendFactory = Callable[[], ChemBackend]

# ---------------------------------------------------------------------------
# Count-fingerprint similarity metrics
# ---------------------------------------------------------------------------


def _overlap(a: dict[int, int], b: dict[int, int]) -> tuple[int, int, int]:
    inter = sum(min(v, b[k]) for k, v in a.items() if k in b)
    return inter, sum(a.values()), sum(b.values())


def tanimoto(a: dict[int, int], b: dict[int, int]) -> float:
    i, na, nb = _overlap(a, b)
    union = na + nb - i
    return i / union if union else 0.0


def dice_sim(a: dict[int, int], b: dict[int, int]) -> float:
    i, na, nb = _overlap(a, b)
    return 2 * i / (na + nb) if (na + nb) else 0.0


def tversky_sim(
    a: dict[int, int], b: dict[int, int], alpha: float = 0.7, beta: float = 0.3
) -> float:
    i, na, nb = _overlap(a, b)
    denom = i + alpha * (na - i) + beta * (nb - i)
    return i / denom if denom else 0.0


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------


def _row_kernel(
    col: Column,
    backend_factory: BackendFactory,
    make_row: Callable[[ChemBackend], Callable[[str | None], object]],
    return_type: T.DataType,
) -> Column:
    """An iterator-form Arrow UDF over `col`: the backend, and
    whatever `make_row` prepares from it, is built once per task;
    each value of each batch then maps through the row function."""
    arrow_type = to_arrow_type(return_type)

    def kernel(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        row = make_row(backend_factory())
        for arr in batches:
            yield pa.array([row(v) for v in arr.to_pylist()], arrow_type)

    return F.arrow_udf(kernel, return_type)(col)


def canonicalize_smiles(
    df: DataFrame,
    smiles_col: str = "SMILES",
    out_col: str = "SMILES_canonical",
    backend_factory: BackendFactory = default_backend,
) -> DataFrame:
    """D2 — canonical SMILES column; NULL for NULL, '' and
    unparseable input."""

    def make_row(be: ChemBackend):
        return lambda v: be.canonicalize(v) if v else None

    return df.withColumn(
        out_col, _row_kernel(F.col(smiles_col), backend_factory, make_row, T.StringType())
    )


# The 11 scored fields, in release order (DATA_DICTIONARY.md:36-48);
# confidence_similarity is derived from them in Catalyst.
_PANEL_SCHEMA = T.StructType(
    [
        T.StructField("MaxSim_all", T.DoubleType(), True),
        T.StructField("TopKMean_all", T.DoubleType(), True),
        T.StructField("BestRef_name", T.StringType(), True),
        T.StructField("has_biguanide_core", T.BooleanType(), False),
        T.StructField("has_biguanide_motif", T.BooleanType(), False),
        T.StructField("sim_biguanide_tversky", T.DoubleType(), True),
        T.StructField("sim_biguanide_dice", T.DoubleType(), True),
        T.StructField("best_biguanide_like_tversky", T.DoubleType(), True),
        T.StructField("best_ref_name_tversky", T.StringType(), True),
        T.StructField("best_biguanide_like_dice", T.DoubleType(), True),
        T.StructField("best_ref_name_dice", T.StringType(), True),
    ]
)

# The reference's fixed 6-structure panel keys (data/reference dict,
# finalize_realease.py:352-430): 'biguanide' doubles as the core
# substructure query, 'biguanide_motif' as the extended one.
CORE_KEY = "biguanide"
MOTIF_KEY = "biguanide_motif"


def _best(scores: list[tuple[str, float]]) -> tuple[float, str]:
    """(best score, its ref) over (ref, score) pairs in ref order.
    Ties go to the first ref, like the reference's np.argmax (:210)
    and max(vals, key=vals.get) (:413) over its dicts."""
    name, best = scores[0]
    for n, sc in scores[1:]:
        if sc > best:
            name, best = n, sc
    return best, name


def score_panels(
    df: DataFrame,
    panel: dict[str, str],
    biguanide_refs: dict[str, str],
    smiles_col: str = "SMILES",
    k: int = 3,
    alpha: float = 0.7,
    beta: float = 0.3,
    backend_factory: BackendFactory = default_backend,
) -> DataFrame:
    """D3/D4/J7/J8/A6-A8 — score every row against both panels in
    one Arrow pass.

    Known-inhibitor panel (bit fingerprint, Tanimoto): MaxSim_all,
    TopKMean_all (mean of the top min(k, n) scores,
    finalize_realease.py:171-175), BestRef_name and
    confidence_similarity (≥.70/.50/.30, :178-185,199-227).
    Biguanide block (count fingerprint, DATA_DICTIONARY.md:40-48):
    substructure flags vs the core/motif refs, Tversky(α, β)/Dice vs
    the 'biguanide' ref, and best-of-panel scores with their ref
    names (:275-451). Scores are rounded to 3 dp; ties resolve to the
    first ref in sorted-name order. A NULL, empty or unparseable
    SMILES gets NULL for every value and False for both flags, like
    the reference's NaN.

    Both ref sets are canonicalized before fingerprinting, as the
    reference does up front (:260, MCI_REFS = dict((k, canonic(v)))):
    for tautomer-sensitive refs the canonical form changes every
    score downstream. That happens once per task, not per batch.
    """
    panel_items = sorted(panel.items())
    big_items = sorted(biguanide_refs.items())

    def make_row(be: ChemBackend):
        panel_fp = be.fingerprint_panel or be.fingerprint

        def ref_fps(items, fp):
            canon = {n: be.canonicalize(s) for n, s in items}
            fps = [(n, fp(c)) for n, c in canon.items() if c is not None]
            return canon, [(n, f) for n, f in fps if f is not None]

        _, panel_refs = ref_fps(panel_items, panel_fp)
        big_canon, big_refs = ref_fps(big_items, be.fingerprint)
        core_c, motif_c = big_canon.get(CORE_KEY), big_canon.get(MOTIF_KEY)
        core_fp = dict(big_refs).get(CORE_KEY)

        def row(v):
            pfp = panel_fp(v) if v else None
            fp = pfp if be.fingerprint_panel is None else (be.fingerprint(v) if v else None)
            sim = (None, None, None)
            if pfp is not None and panel_refs:
                scores = [(n, tanimoto(pfp, rf)) for n, rf in panel_refs]
                best, name = _best(scores)
                top = sorted((sc for _, sc in scores), reverse=True)[:k]
                sim = (round(best, 3), round(sum(top) / len(top), 3), name)
            if fp is None:
                return (*sim, False, False, None, None, None, None, None, None)
            bt = bd = bt_name = bd_name = None
            if big_refs:
                bt, bt_name = _best([(n, tversky_sim(fp, rf, alpha, beta)) for n, rf in big_refs])
                bd, bd_name = _best([(n, dice_sim(fp, rf)) for n, rf in big_refs])
                bt, bd = round(bt, 3), round(bd, 3)
            return (
                *sim,
                be.has_substructure(core_c, v) if core_c else False,
                be.has_substructure(motif_c, v) if motif_c else False,
                round(tversky_sim(fp, core_fp, alpha, beta), 3) if core_fp else None,
                round(dice_sim(fp, core_fp), 3) if core_fp else None,
                bt, bt_name, bd, bd_name,
            )

        return row

    scored = df.withColumn(
        "__chem", _row_kernel(F.col(smiles_col), backend_factory, make_row, _PANEL_SCHEMA)
    )
    fields = [F.col(f"__chem.{f.name}").alias(f.name) for f in _PANEL_SCHEMA.fields]
    # F10 — confidence prefers TopKMean when present, else MaxSim
    basis = F.coalesce(F.col("TopKMean_all"), F.col("MaxSim_all"))
    confidence = F.when(basis.isNull(), None).otherwise(
        threshold_label(basis, [(0.70, "high"), (0.50, "medium"), (0.30, "low")], "very-low")
    )
    return (
        scored.select("*", *fields[:3])
        .withColumn("confidence_similarity", confidence)
        .select("*", *fields[3:])
        .drop("__chem")
    )
