"""Cheminformatics panel operators (SURVEY §2.10 D2-D4, §2.3 J7/J8).

The reference scores every candidate compound's fingerprint against
a broadcast panel of known inhibitors (BulkTanimotoSimilarity +
top-k mean + best-ref, reference scripts/finalize_realease.py:116-227)
and against a fixed biguanide panel with Tversky(α=0.7,β=0.3)/Dice +
tautomer-aware substructure flags (:275-451). Output columns per
reference etl/schema/DATA_DICTIONARY.md:30-49.

Spark shape: the panel is tiny (≤10² structures) → it is captured in
the UDF closure (broadcast by task serialization), and each Arrow
batch is scored vectorized in one pass — the crossJoin the reference
conceptually performs never materializes (SURVEY §2.3 J7 'preferred
scale path').

Chemistry itself is pluggable: the RDKit backend is imported lazily
(not installed in CI images); the deterministic `fake_backend` keeps
every metric's *shape* (identity → 1.0, disjoint → 0.0, symmetry for
Tanimoto/Dice, asymmetry for Tversky) so the Spark plumbing is fully
tested offline.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def canonicalize_smiles(
    df: DataFrame,
    smiles_col: str = "SMILES",
    out_col: str = "SMILES_canonical",
    backend_factory: BackendFactory = default_backend,
) -> DataFrame:
    """D2 — canonical SMILES column via an Arrow pandas UDF; the
    backend object is built once per Python worker."""

    @F.pandas_udf(T.StringType())
    def canon_udf(s: pd.Series) -> pd.Series:
        be = backend_factory()
        return s.map(lambda v: be.canonicalize(v) if v else None)

    return df.withColumn(out_col, canon_udf(F.col(smiles_col)))


_SIM_PANEL_SCHEMA = T.StructType(
    [
        T.StructField("MaxSim_all", T.DoubleType(), True),
        T.StructField("TopKMean_all", T.DoubleType(), True),
        T.StructField("BestRef_name", T.StringType(), True),
    ]
)


def similarity_panel(
    df: DataFrame,
    panel: dict[str, str],
    smiles_col: str = "SMILES",
    k: int = 3,
    backend_factory: BackendFactory = default_backend,
) -> DataFrame:
    """D3/J7/A6/A7/A8 — score every row vs the reference panel.

    Adds MaxSim_all, TopKMean_all (mean of the top min(k, n) scores,
    finalize_realease.py:171-175), BestRef_name, and
    confidence_similarity. 3-dp rounding and the ≥.70/.50/.30
    thresholds follow the reference (:178-185,199-227). NULLs for
    unparseable/empty SMILES rows, like the reference's NaN. Score
    ties resolve to the first panel entry in iteration order (the
    reference's np.argmax, :210); the panel here is iterated in
    sorted-name order.
    """
    panel_items = sorted(panel.items())

    @F.pandas_udf(_SIM_PANEL_SCHEMA)
    def score_udf(s: pd.Series) -> pd.DataFrame:
        be = backend_factory()
        panel_fp = be.fingerprint_panel or be.fingerprint
        # The reference canonicalizes its ref dict before any scoring
        # (finalize_realease.py:260: MCI_REFS = dict((k, canonic(v)))),
        # so tautomer-sensitive refs fingerprint in canonical form.
        ref_canon = [(n, be.canonicalize(smi)) for n, smi in panel_items]
        ref_fps = [(n, panel_fp(c)) for n, c in ref_canon if c is not None]
        ref_fps = [(n, f) for n, f in ref_fps if f is not None]
        out = []
        for v in s:
            fp = panel_fp(v) if v else None
            if fp is None or not ref_fps:
                out.append((None, None, None))
                continue
            scores = [(tanimoto(fp, rf), name) for name, rf in ref_fps]
            best_score = max(sc for sc, _ in scores)
            best_name = next(n for sc, n in scores if sc == best_score)
            top = sorted((sc for sc, _ in scores), reverse=True)[:k]
            topk = sum(top) / len(top)
            out.append((round(best_score, 3), round(topk, 3), best_name))
        return pd.DataFrame(out, columns=["MaxSim_all", "TopKMean_all", "BestRef_name"])

    scored = df.withColumn("__panel", score_udf(F.col(smiles_col)))
    # F10 — confidence prefers TopKMean when present, else MaxSim
    basis = F.coalesce(F.col("__panel.TopKMean_all"), F.col("__panel.MaxSim_all"))
    return (
        scored.select(
            "*",
            F.col("__panel.MaxSim_all").alias("MaxSim_all"),
            F.col("__panel.TopKMean_all").alias("TopKMean_all"),
            F.col("__panel.BestRef_name").alias("BestRef_name"),
        )
        .withColumn(
            "confidence_similarity",
            F.when(basis.isNull(), None).otherwise(
                threshold_label(
                    basis, [(0.70, "high"), (0.50, "medium"), (0.30, "low")], "very-low"
                )
            ),
        )
        .drop("__panel")
    )


_BIGUANIDE_SCHEMA = T.StructType(
    [
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


def biguanide_panel(
    df: DataFrame,
    refs: dict[str, str],
    smiles_col: str = "SMILES",
    alpha: float = 0.7,
    beta: float = 0.3,
    backend_factory: BackendFactory = default_backend,
) -> DataFrame:
    """D4/J8 — the 8-column biguanide-likeness block
    (DATA_DICTIONARY.md:40-48): substructure flags vs core/motif,
    Tversky/Dice vs the 'biguanide' ref, and best-of-panel scores
    with their ref names."""
    ref_items = sorted(refs.items())
    core_smiles = refs.get(CORE_KEY)
    motif_smiles = refs.get(MOTIF_KEY)

    @F.pandas_udf(_BIGUANIDE_SCHEMA)
    def score_udf(s: pd.Series) -> pd.DataFrame:
        be = backend_factory()
        # Canonicalize refs before fingerprinting, exactly as the
        # reference does up front (finalize_realease.py:260: MCI_REFS
        # = dict((k, canonic(v)))) — for tautomer-sensitive biguanides
        # the canonical-tautomer form changes the fingerprint, hence
        # every Tversky/Dice value downstream.
        ref_canon = [(n, be.canonicalize(smi)) for n, smi in ref_items]
        ref_fps = [
            (n, be.fingerprint(c)) for n, c in ref_canon if c is not None
        ]
        ref_fps = [(n, f) for n, f in ref_fps if f is not None]
        core_c = be.canonicalize(core_smiles) if core_smiles else None
        motif_c = be.canonicalize(motif_smiles) if motif_smiles else None
        big_fp = be.fingerprint(core_c) if core_c else None
        out = []
        for v in s:
            fp = be.fingerprint(v) if v else None
            if fp is None:
                out.append((False, False, None, None, None, None, None, None))
                continue
            has_core = be.has_substructure(core_c, v) if core_c else False
            has_motif = be.has_substructure(motif_c, v) if motif_c else False
            sim_t = round(tversky_sim(fp, big_fp, alpha, beta), 3) if big_fp else None
            sim_d = round(dice_sim(fp, big_fp), 3) if big_fp else None
            bt = bd = None
            bt_name = bd_name = None
            if ref_fps:
                # ties → first ref in iteration order, like the
                # reference's max(vals, key=vals.get) over its dict
                t_scores = [(tversky_sim(fp, rf, alpha, beta), n) for n, rf in ref_fps]
                d_scores = [(dice_sim(fp, rf), n) for n, rf in ref_fps]
                bt = max(sc for sc, _ in t_scores)
                bt_name = next(n for sc, n in t_scores if sc == bt)
                bd = max(sc for sc, _ in d_scores)
                bd_name = next(n for sc, n in d_scores if sc == bd)
                bt, bd = round(bt, 3), round(bd, 3)
            out.append(
                (has_core, has_motif, sim_t, sim_d, bt, bt_name, bd, bd_name)
            )
        return pd.DataFrame(out, columns=[f.name for f in _BIGUANIDE_SCHEMA.fields])

    scored = df.withColumn("__big", score_udf(F.col(smiles_col)))
    return scored.select(
        "*", *[F.col(f"__big.{f.name}").alias(f.name) for f in _BIGUANIDE_SCHEMA.fields]
    ).drop("__big")
