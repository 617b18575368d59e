"""Pure-Python mini-cheminformatics kernel — a REAL (if deliberately
small) chemistry backend for the D2-D4 operators when RDKit is not
installable (this container): SMILES parsing to a molecular graph,
Morgan-refinement canonicalization, ECFP-style circular fingerprints,
and subgraph-isomorphism substructure search.

Replaces the string-trigram `fake_backend` as the default fallback:
canonicalization is now invariant under atom REORDERING of the input
SMILES (the property that makes D2 dedup real — pinned by a
randomized re-writing test), fingerprints encode actual circular
atom environments, and substructure match is graph matching, not
substring containment.

Honest scope vs RDKit (documented, deliberate — the parity harness
`tools/chem_parity.py` remains the bridge to full RDKit semantics,
reference scripts/finalize_realease.py:146-227,275-451):

- BOUNDED aromaticity perception (not full Hückel): 6-rings of C/N
  with alternating single/double bonds and 5-rings with two double
  bonds plus one N/O/S lone-pair donor aromatize, iterated to a
  fixpoint so fused systems (naphthalene, indole, purines) unify
  ring-by-ring — `C1=CC=CC=C1` and `c1ccccc1` canonicalize
  identically, as do the kekulé/aromatic forms of pyridine, pyrrole,
  furan, thiophene, naphthalene, indole and caffeine (pinned by
  tests). Exotic aromatics (7-rings, charged rings, fixed quinoid
  systems) stay as written.
- Uncharging IS implemented (`uncharge`: cations shed their protons,
  anions gain them, zwitterion parity retained for permanent cations)
  and runs in canonical_smiles / morgan fingerprints /
  has_substructure, mirroring the reference's Uncharger placement.
- BOUNDED tautomer canonicalization IS implemented
  (`tautomer_variants`): amidine/guanidine 1,3-H shifts — the
  tautomerism of every biguanide the reference scores — enumerated
  with cross-center combinations; canonical_smiles picks the
  lexicographically smallest canonical string (isomorphism-invariant
  by construction) and has_substructure tries every QUERY tautomer,
  the reference's tautomer_submatch shape. Other tautomer classes
  (keto-enol, imine-enamine, ring-chain) and Normalizer functional-
  group rewrites remain the documented scope exclusion.
- Stereochemistry is stripped (the reference itself writes
  isomericSmiles=False).
- Canonical tie-breaking refines by invariants only; atoms left tied
  after full refinement are graph-automorphic in every molecule this
  engine's fixtures contain (highly regular cages could in principle
  stall the refinement — out of scope).

Grammar: organic-subset atoms B C N O P S F Cl Br I (+ aromatic
b c n o p s), bracket atoms with isotope/charge/H-count (isotope
dropped, stereo dropped), bonds - = # : (/ and \\ read as single),
branches, %nn and digit ring closures, dot-separated fragments.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

_ORGANIC = {"B", "C", "N", "O", "P", "S", "F", "Cl", "Br", "I"}
_AROMATIC_OK = {"b", "c", "n", "o", "p", "s"}
# default valences for implicit-H computation (first matching >= bond sum)
_VALENCES = {
    "B": (3,),
    "C": (4,),
    "N": (3, 5),
    "O": (2,),
    "P": (3, 5),
    "S": (2, 4, 6),
    "F": (1,),
    "Cl": (1,),
    "Br": (1,),
    "I": (1,),
}


@dataclass
class Atom:
    element: str
    aromatic: bool = False
    charge: int = 0
    h_count: int | None = None  # explicit [..H n]; None = implicit
    bracket: bool = False


@dataclass
class Mol:
    atoms: list[Atom] = field(default_factory=list)
    # adjacency: bonds[i] = list of (j, order); order: 1,2,3 or 4=aromatic
    bonds: dict[int, list[tuple[int, int]]] = field(default_factory=dict)

    def add_atom(self, a: Atom) -> int:
        i = len(self.atoms)
        self.atoms.append(a)
        self.bonds[i] = []
        return i

    def add_bond(self, i: int, j: int, order: int) -> None:
        self.bonds[i].append((j, order))
        self.bonds[j].append((i, order))

    def degree(self, i: int) -> int:
        return len(self.bonds[i])

    def bond_order_sum(self, i: int) -> float:
        return sum(1.5 if o == 4 else o for _, o in self.bonds[i])

    def implicit_h(self, i: int) -> int:
        a = self.atoms[i]
        if a.h_count is not None:
            return a.h_count
        if a.bracket:
            return 0  # bracket atom without H spec has zero H (SMILES rule)
        s = self.bond_order_sum(i)
        if a.aromatic:
            # aromatic model: lowest standard valence, aromatic bonds
            # floor-summed, clamped at 0 (thiophene s: 2-3 -> 0 H;
            # benzene c: 4-3 -> 1 H; fusion c: 4-4 -> 0 H)
            import math

            v = _VALENCES.get(a.element, (0,))[0]
            return max(0, v - math.floor(s + 1e-9))
        for v in _VALENCES.get(a.element, (0,)):
            if v >= s - 1e-9:
                return int(round(v - s))
        return 0


class SmilesError(ValueError):
    pass


_TWO_LETTER = ("Cl", "Br")


def parse_smiles(s: str) -> Mol:
    """SMILES string → molecular graph (see module docstring scope)."""
    if not isinstance(s, str) or not s.strip() or " " in s.strip():
        raise SmilesError(f"bad smiles: {s!r}")
    s = s.strip()
    mol = Mol()
    prev: int | None = None
    pending_bond: int | None = None
    stack: list[int | None] = []
    ring: dict[int, tuple[int, int | None]] = {}  # number -> (atom, bond)
    i, n = 0, len(s)

    def attach(idx: int) -> None:
        nonlocal prev, pending_bond
        if prev is not None:
            order = pending_bond
            if order is None:
                a, b = mol.atoms[prev], mol.atoms[idx]
                order = 4 if (a.aromatic and b.aromatic) else 1
            mol.add_bond(prev, idx, order)
        prev = idx
        pending_bond = None

    while i < n:
        c = s[i]
        if c in "-/\\":
            pending_bond = 1
            i += 1
        elif c == "=":
            pending_bond = 2
            i += 1
        elif c == "#":
            pending_bond = 3
            i += 1
        elif c == ":":
            pending_bond = 4
            i += 1
        elif c == "(":
            stack.append(prev)
            i += 1
        elif c == ")":
            if not stack:
                raise SmilesError(f"unbalanced ')' in {s!r}")
            prev = stack.pop()
            i += 1
        elif c == ".":
            prev = None
            pending_bond = None
            i += 1
        elif c == "%":
            if i + 2 >= n or not s[i + 1 : i + 3].isdigit():
                raise SmilesError(f"bad %ring in {s!r}")
            num = int(s[i + 1 : i + 3])
            i += 3
            _ring_closure(mol, ring, num, prev, pending_bond, s)
            pending_bond = None
        elif c.isdigit():
            _ring_closure(mol, ring, int(c), prev, pending_bond, s)
            pending_bond = None
            i += 1
        elif c == "[":
            j = s.find("]", i)
            if j < 0:
                raise SmilesError(f"unbalanced '[' in {s!r}")
            idx = mol.add_atom(_parse_bracket(s[i + 1 : j]))
            attach(idx)
            i = j + 1
        else:
            two = s[i : i + 2]
            if two in _TWO_LETTER:
                idx = mol.add_atom(Atom(two))
                attach(idx)
                i += 2
            elif c.upper() in _ORGANIC and len(c) == 1:
                if c.islower():
                    if c not in _AROMATIC_OK:
                        raise SmilesError(f"bad aromatic atom {c!r} in {s!r}")
                    idx = mol.add_atom(Atom(c.upper(), aromatic=True))
                else:
                    idx = mol.add_atom(Atom(c))
                attach(idx)
                i += 1
            else:
                raise SmilesError(f"unexpected {c!r} at {i} in {s!r}")
    if ring:
        raise SmilesError(f"unclosed ring bond(s) {sorted(ring)} in {s!r}")
    if stack:
        raise SmilesError(f"unbalanced '(' in {s!r}")
    if not mol.atoms:
        raise SmilesError(f"empty smiles {s!r}")
    return mol


def _ring_closure(mol, ring, num, prev, pending_bond, s) -> None:
    if prev is None:
        raise SmilesError(f"ring digit before any atom in {s!r}")
    if num in ring:
        other, obond = ring.pop(num)
        # standard SMILES readers reject mismatched explicit ring-bond
        # symbols (e.g. 'C-1CCCC=1'); silently letting one side win
        # would canonicalize two disagreeing inputs without diagnostic
        if (
            pending_bond is not None
            and obond is not None
            and pending_bond != obond
        ):
            raise SmilesError(
                f"conflicting ring-closure bond orders {obond} vs "
                f"{pending_bond} for ring {num} in {s!r}"
            )
        order = pending_bond if pending_bond is not None else obond
        if order is None:
            a, b = mol.atoms[prev], mol.atoms[other]
            order = 4 if (a.aromatic and b.aromatic) else 1
        if other == prev:
            raise SmilesError(f"self ring bond in {s!r}")
        mol.add_bond(prev, other, order)
    else:
        ring[num] = (prev, pending_bond)


def _parse_bracket(body: str) -> Atom:
    """[isotope? element stereo? Hcount? charge? class?] — isotope,
    stereo (@/@@) and atom class (:n) are parsed and dropped."""
    i, n = 0, len(body)
    while i < n and body[i].isdigit():  # isotope
        i += 1
    if i < n and body[i : i + 2] in _TWO_LETTER:
        el, aromatic = body[i : i + 2], False
        i += 2
    elif i < n and body[i].isalpha():
        ch = body[i]
        aromatic = ch.islower()
        el = ch.upper()
        i += 1
        # two-letter elements beyond the organic subset (Na, Se, ...)
        if i < n and body[i].isalpha() and body[i].islower() and body[i] != "h":
            el = el + body[i]
            i += 1
    else:
        raise SmilesError(f"bad bracket atom [{body}]")
    while i < n and body[i] == "@":  # stereo dropped
        i += 1
    h = 0
    if i < n and body[i] == "H":
        i += 1
        d = ""
        while i < n and body[i].isdigit():
            d += body[i]
            i += 1
        h = int(d) if d else 1
    charge = 0
    while i < n and body[i] in "+-":
        sign = 1 if body[i] == "+" else -1
        i += 1
        d = ""
        while i < n and body[i].isdigit():
            d += body[i]
            i += 1
        charge += sign * (int(d) if d else 1)
    if i < n and body[i] == ":":  # atom class dropped
        i += 1
        while i < n and body[i].isdigit():
            i += 1
    if i != n:
        raise SmilesError(f"trailing {body[i:]!r} in bracket atom [{body}]")
    return Atom(el, aromatic=aromatic, charge=charge, h_count=h, bracket=True)


# ---------------------------------------------------------------------------
# Canonical ranking (Morgan-style iterative refinement)
# ---------------------------------------------------------------------------


def _h32(obj) -> int:
    return zlib.crc32(repr(obj).encode())


def canonical_ranks(mol: Mol, atoms: list[int] | None = None) -> dict[int, int]:
    """Order-invariant canonical rank per atom (0 = canonical root).

    Refinement: each atom's invariant is hashed with the sorted
    multiset of (bond order, neighbor invariant); iterate until the
    partition stops refining; remaining ties break by splitting the
    smallest-invariant tied class and re-refining (tied atoms are
    automorphic for in-scope molecules, so the split choice cannot
    change the canonical string)."""
    idxs = list(range(len(mol.atoms))) if atoms is None else list(atoms)
    inset = set(idxs)
    inv: dict[int, int] = {}
    for i in idxs:
        a = mol.atoms[i]
        inv[i] = _h32(
            (
                a.element,
                a.aromatic,
                a.charge,
                mol.implicit_h(i),
                len([1 for j, _ in mol.bonds[i] if j in inset]),
                int(mol.bond_order_sum(i) * 2),
            )
        )

    def refine(cur: dict[int, int]) -> dict[int, int]:
        while True:
            nxt = {
                i: _h32(
                    (
                        cur[i],
                        tuple(
                            sorted(
                                (o, cur[j])
                                for j, o in mol.bonds[i]
                                if j in inset
                            )
                        ),
                    )
                )
                for i in idxs
            }
            if len(set(nxt.values())) == len(set(cur.values())):
                return nxt
            cur = nxt

    inv = refine(inv)
    # tie-break loop: force apart the first tied class until discrete
    while len(set(inv.values())) < len(idxs):
        by_val: dict[int, list[int]] = {}
        for i in idxs:
            by_val.setdefault(inv[i], []).append(i)
        tied = min(
            (v for v in by_val.values() if len(v) > 1),
            key=lambda v: inv[v[0]],
        )
        chosen = min(tied)  # automorphic for in-scope molecules
        inv = dict(inv)
        inv[chosen] = _h32(("split", inv[chosen]))
        inv = refine(inv)
    order = sorted(idxs, key=lambda i: inv[i])
    return {i: r for r, i in enumerate(order)}


def fragments(mol: Mol) -> list[list[int]]:
    seen: set[int] = set()
    out = []
    for i in range(len(mol.atoms)):
        if i in seen:
            continue
        comp, todo = [], [i]
        seen.add(i)
        while todo:
            x = todo.pop()
            comp.append(x)
            for j, _ in mol.bonds[x]:
                if j not in seen:
                    seen.add(j)
                    todo.append(j)
        out.append(comp)
    return out


def largest_fragment(mol: Mol) -> list[int]:
    """Largest fragment by heavy-atom count; ties by bond count then
    by canonical SMILES string (fully deterministic)."""
    frags = fragments(mol)
    if len(frags) == 1:
        return frags[0]

    def key(comp):
        nb = sum(len(mol.bonds[i]) for i in comp) // 2
        return (len(comp), nb, _write(mol, comp, canonical_ranks(mol, comp)))

    return max(frags, key=key)


def extract_fragment(mol: Mol, atoms: list[int]) -> Mol:
    """New Mol containing exactly `atoms` (a connected component from
    fragments()), reindexed. Lossless: fragments have no cross-
    component bonds, bracket atoms carry their explicit H counts, and
    organic-subset atoms re-infer the same implicit H from the same
    bond sums."""
    import copy

    out = Mol()
    remap = {}
    for i in sorted(atoms):
        remap[i] = out.add_atom(copy.deepcopy(mol.atoms[i]))
    inset = set(atoms)
    for i in sorted(atoms):
        for j, o in mol.bonds[i]:
            if j in inset and i < j:
                out.add_bond(remap[i], remap[j], o)
    return out


def uncharge(mol: Mol, atoms: list[int] | None = None) -> Mol:
    """RDKit-Uncharger-style neutralization (reference canonic step,
    finalize_realease.py:246, and the D4 mol prep, :352-430): returns
    a modified copy; the input is untouched. `atoms` restricts the
    scope (atom indices are preserved) — the callers that select the
    largest fragment FIRST pass it here, so a dropped counterion
    (e.g. [Na+] in a carboxylate salt) no longer holds the kept
    fragment's charge in place via zwitterion parity, exactly as the
    reference's largest-fragment-then-uncharge prep behaves.

    - Positive atoms shed the protons they carry: charge and hydrogen
      count both decrease until charge 0 or no H left ([NH3+] -> N;
      quaternary [N+](C)(C)(C)C has no H and stays a permanent cation).
    - Negative atoms gain protons up to charge 0 ([O-] -> O), except
      that enough anionic charge is RETAINED to balance permanent
      cations (zwitterion parity, as RDKit's Uncharger): retained
      anions are chosen deterministically by canonical rank (highest
      ranks keep their charge). RDKit chooses by acid-strength
      patterns instead — a documented divergence that only matters
      for molecules with BOTH a permanent cation and 2+ distinct
      anion sites.

    Tautomer canonicalization (the reference's final canonic step,
    :247) remains minichem's one documented scope exclusion."""
    scope = list(range(len(mol.atoms))) if atoms is None else list(atoms)
    if all(mol.atoms[i].charge == 0 for i in scope):
        return mol
    import copy

    out = copy.deepcopy(mol)
    permanent_pos = 0
    for i in scope:
        a = out.atoms[i]
        if a.charge > 0:
            h = out.implicit_h(i)
            shed = min(a.charge, h)
            a.charge -= shed
            a.h_count = h - shed
            permanent_pos += a.charge
    neg = [i for i in scope if out.atoms[i].charge < 0]
    if not neg:
        return out
    total_neg = sum(-out.atoms[i].charge for i in neg)
    to_neutralize = total_neg - min(total_neg, permanent_pos)
    if to_neutralize == total_neg:
        order = neg  # all protonated; visit order is immaterial
    else:
        # retention must be isomorphism-invariant: neutralize in
        # ascending canonical-rank order, so the highest-ranked anion
        # sites keep the balancing charge regardless of input order
        ranks = canonical_ranks(mol, scope)
        order = sorted(neg, key=lambda x: ranks[x])
    for i in order:
        if to_neutralize <= 0:
            break
        a = out.atoms[i]
        add = min(-a.charge, to_neutralize)
        h = out.implicit_h(i)
        a.charge += add
        a.h_count = h + add
        to_neutralize -= add
    return out


def _amidine_centers(mol: Mol, atoms: list[int] | None = None) -> list[int]:
    """Indices of non-aromatic carbons bearing exactly one C=N double
    bond (no other double/triple bonds) plus at least one
    single-bonded, uncharged, H-bearing, non-aromatic N — the
    amidine/guanidine tautomeric system (the group every biguanide is
    built from, reference finalize_realease.py:252-259 panel)."""
    scope = set(range(len(mol.atoms)) if atoms is None else atoms)
    out = []
    for c in scope:
        a = mol.atoms[c]
        if a.element != "C" or a.aromatic:
            continue
        dbl = [(j, o) for j, o in mol.bonds[c] if o >= 2]
        if len(dbl) != 1 or dbl[0][1] != 2:
            continue
        nd = dbl[0][0]
        nda = mol.atoms[nd]
        if nda.element != "N" or nda.aromatic or nda.charge != 0 or nd not in scope:
            continue
        # The double-bond N must be STANDARD TRIVALENT (bond sum <= 3):
        # a hypervalent N (e.g. 'C(N)=N(C)CC', sum 4 — legal SMILES
        # under N's (3,5) valence model) cannot accept the shifted H
        # after losing the double bond, so the "shift" would not be a
        # tautomer and the variant set would not be closed under it
        # (found by the tautomer-level-identity property test: the
        # reverse shift from the shifted form is impossible, so the
        # two writings canonicalized differently).
        if mol.bond_order_sum(nd) > 3 + 1e-9:
            continue
        singles = [
            j
            for j, o in mol.bonds[c]
            if o == 1
            and j in scope
            and mol.atoms[j].element == "N"
            and not mol.atoms[j].aromatic
            and mol.atoms[j].charge == 0
            and mol.implicit_h(j) >= 1
            and not any(oo >= 2 for _, oo in mol.bonds[j])
        ]
        if singles:
            out.append(c)
    return out


def _shift_double(m: Mol, c: int, t: int) -> Mol | None:
    """Copy of `m` with center c's C=N double bond moved to the
    single-bonded nitrogen `t` (1,3-H shift); None if `t` cannot
    accept it in m's CURRENT state (no H, already double-bonded,
    charged). Returns `m` itself when t already holds the double."""
    import copy

    cur = [j for j, o in m.bonds[c] if o == 2 and m.atoms[j].element == "N"]
    if len(cur) != 1:
        return None
    nd = cur[0]
    if t == nd:
        return m
    # mirror _amidine_centers' trivalent-donor guard (see there): a
    # hypervalent donor N cannot receive the shifted H
    if m.bond_order_sum(nd) > 3 + 1e-9:
        return None
    ta = m.atoms[t]
    if ta.element != "N" or ta.aromatic or ta.charge != 0:
        return None
    if [o for j, o in m.bonds[c] if j == t] != [1]:
        return None
    # the acceptor mirror of the donor guard: a single-bonded N that
    # already carries more than two bond orders would become a
    # five-bond N with the double
    if m.bond_order_sum(t) > 2 + 1e-9:
        return None
    if m.implicit_h(t) < 1 or any(o >= 2 for _, o in m.bonds[t]):
        return None
    out = copy.deepcopy(m)

    def set_order(i: int, j: int, o: int) -> None:
        out.bonds[i] = [(jj, o if jj == j else oo) for jj, oo in out.bonds[i]]
        out.bonds[j] = [(ii, o if ii == i else oo) for ii, oo in out.bonds[j]]

    set_order(c, nd, 1)
    set_order(c, t, 2)
    # bracket atoms carry explicit H counts; organic-subset atoms
    # recompute implicit H from the new bond sums automatically
    if out.atoms[nd].h_count is not None:
        out.atoms[nd].h_count += 1
    if out.atoms[t].h_count is not None:
        out.atoms[t].h_count -= 1
    return out


def tautomer_variants(
    mol: Mol, atoms: list[int] | None = None, max_variants: int = 256
) -> list[Mol]:
    """All bounded amidine/guanidine double-bond placements of `mol`
    (always includes the input itself). The canonical-tautomer
    consumers pick the variant whose canonical SMILES is
    lexicographically smallest — isomorphism-invariant BY
    CONSTRUCTION (no rank heuristics over erased graphs), the same
    selection shape as the reference's TautomerEnumerator.Canonicalize
    (finalize_realease.py:247). Cross-center combinations are
    enumerated (biguanides chain two centers through a bridging N;
    invalid combos — the bridge can't take two doubles — prune
    themselves). Above `max_variants` the input is returned alone and
    tautomer canonicalization is skipped for that molecule (documented
    bound; 4 chained centers ≈ 81 variants fit comfortably)."""
    centers = _amidine_centers(mol, atoms)
    variants: list[Mol] = [mol]
    for c in centers:
        new: list[Mol] = []
        for m in variants:
            cands = {j for j, o in m.bonds[c] if o == 2} | {
                j for j, o in m.bonds[c] if o == 1
            }
            for t in sorted(cands):
                if m.atoms[t].element != "N":
                    continue
                v = _shift_double(m, c, t)
                if v is not None:
                    new.append(v)
        variants = new or variants
        if len(variants) > max_variants:
            return [mol]
    return variants


# ---------------------------------------------------------------------------
# Canonical writer
# ---------------------------------------------------------------------------

_BOND_SYM = {1: "", 2: "=", 3: "#", 4: ""}


def _atom_token(mol: Mol, i: int) -> str:
    a = mol.atoms[i]
    el = a.element.lower() if a.aromatic else a.element
    needs_bracket = (
        a.charge != 0
        or a.element not in _ORGANIC
        or (a.bracket and (a.h_count or 0) > 0 and a.aromatic)
        or (a.bracket and mol.implicit_h(i) != _free_valence_h(mol, i))
    )
    if not needs_bracket:
        return el
    h = mol.implicit_h(i)
    htxt = "" if h == 0 else ("H" if h == 1 else f"H{h}")
    c = a.charge
    ctxt = "" if c == 0 else ("+" * c if 0 < c <= 2 else "-" * -c if -2 <= c < 0 else (f"+{c}" if c > 0 else str(c)))
    return f"[{el}{htxt}{ctxt}]"


def _free_valence_h(mol: Mol, i: int) -> int:
    """H count the organic-subset reader would infer for this atom if
    written WITHOUT brackets (mirrors Mol.implicit_h's non-bracket
    branches exactly, including the aromatic model)."""
    import math

    a = mol.atoms[i]
    s = mol.bond_order_sum(i)
    if a.aromatic:
        v = _VALENCES.get(a.element, (0,))[0]
        return max(0, v - math.floor(s + 1e-9))
    for v in _VALENCES.get(a.element, (0,)):
        if v >= s - 1e-9:
            return int(round(v - s))
    return 0


def _write(mol: Mol, atoms: list[int], ranks: dict[int, int], order_key=None) -> str:
    """Write the fragment as SMILES following `ranks` (canonical) or a
    caller-supplied neighbor order (used by the invariance test)."""
    inset = set(atoms)
    key = order_key or (lambda i: ranks[i])
    root = min(atoms, key=key)
    visited: set[int] = set()
    ring_num = [0]
    ring_open: dict[tuple[int, int], int] = {}
    # pre-pass: find ring-closure edges via DFS tree
    tree_parent: dict[int, int | None] = {root: None}
    back_edges: set[frozenset] = set()
    stack = [root]
    seen = {root}
    while stack:
        x = stack.pop()
        for j, _ in sorted(mol.bonds[x], key=lambda t: key(t[0])):
            if j not in inset:
                continue
            if j not in seen:
                seen.add(j)
                tree_parent[j] = x
                stack.append(j)
            elif tree_parent.get(x) != j:
                back_edges.add(frozenset((x, j)))

    ring_digit: dict[frozenset, int] = {}

    def digit_txt(d: int) -> str:
        return str(d) if d <= 9 else f"%{d:02d}"

    def emit(i: int, parent: int | None) -> str:
        visited.add(i)
        out = _atom_token(mol, i)
        # ring closures at this atom
        for j, o in sorted(mol.bonds[i], key=lambda t: key(t[0])):
            e = frozenset((i, j))
            if j in inset and e in back_edges:
                if e not in ring_digit:
                    ring_num[0] += 1
                    ring_digit[e] = ring_num[0]
                    out += _bond_sym(mol, i, j, o) + digit_txt(ring_digit[e])
                else:
                    out += _bond_sym(mol, i, j, o) + digit_txt(ring_digit[e])
        children = [
            (j, o)
            for j, o in sorted(mol.bonds[i], key=lambda t: key(t[0]))
            if j in inset
            and j != parent
            and frozenset((i, j)) not in back_edges
            and j not in visited
        ]
        for idx, (j, o) in enumerate(children):
            sub = _bond_sym(mol, i, j, o) + emit(j, i)
            if idx < len(children) - 1:
                out += f"({sub})"
            else:
                out += sub
        return out

    return emit(root, None)


def _bond_sym(mol: Mol, i: int, j: int, order: int) -> str:
    if order == 4:
        a, b = mol.atoms[i], mol.atoms[j]
        # an explicit ':' bond between NON-aromatic atoms must stay
        # explicit — writing it bare would collapse C:C onto ethane
        # and break write/parse idempotence
        return "" if (a.aromatic and b.aromatic) else ":"
    if order == 1:
        a, b = mol.atoms[i], mol.atoms[j]
        # explicit single bond between two aromatic atoms (biphenyl)
        return "-" if (a.aromatic and b.aromatic) else ""
    return _BOND_SYM[order]


# ---------------------------------------------------------------------------
# Aromaticity perception (bounded Hückel subset)
# ---------------------------------------------------------------------------

_AROMATIZABLE = {"C", "N", "O", "S"}


def _all_small_cycles(mol: Mol, max_size: int = 6) -> list[list[int]]:
    """EVERY simple cycle of length 3..max_size, each exactly once, as
    an ordered atom tuple. The SET is a pure graph property — no
    dependence on atom numbering or traversal order — which is what
    keeps aromatization isomorphism-invariant (the hypothesis property
    test caught a shortest-ring-per-bond variant picking different
    rings for different atom numberings of the same graph).

    Enumeration: DFS paths from each start atom restricted to
    higher-numbered atoms, closing back to the start; each cycle is
    found from its minimum atom only, once per direction — deduped by
    frozenset."""
    cycles: dict[frozenset, list[int]] = {}

    def dfs(start: int, path: list[int], on_path: set[int]) -> None:
        last = path[-1]
        for j, _ in mol.bonds[last]:
            if j == start and len(path) >= 3:
                key = frozenset(path)
                if len(key) == len(path) and key not in cycles:
                    cycles[key] = list(path)
            elif j > start and j not in on_path and len(path) < max_size:
                on_path.add(j)
                path.append(j)
                dfs(start, path, on_path)
                path.pop()
                on_path.discard(j)

    for a in range(len(mol.atoms)):
        dfs(a, [a], {a})
    return list(cycles.values())


def _ring_bond_orders(mol: Mol, ring: list[int]) -> list[int]:
    n = len(ring)
    out = []
    for i in range(n):
        a, b = ring[i], ring[(i + 1) % n]
        o = next(oo for j, oo in mol.bonds[a] if j == b)
        out.append(o)
    return out


def _ring_matches(mol: Mol, ring: list[int]) -> bool:
    """Read-only test of the bounded Hückel rules:

    * size 6, atoms C/N, bonds alternate single/double around the
      ring (aromatic bonds from an earlier pass count as wildcards);
    * size 5, atoms C/N/O/S, two double bonds (or earlier-pass
      aromatic wildcards), and the lone-pair donor (the atom flanked
      by two ring single bonds) is N/O/S.
    """
    n = len(ring)
    atoms = [mol.atoms[i] for i in ring]
    if any(a.element not in _AROMATIZABLE for a in atoms):
        return False
    if all(a.aromatic for a in atoms):
        return False  # already done — terminates the fixpoint
    orders = _ring_bond_orders(mol, ring)
    if any(o == 3 for o in orders):
        return False
    if n == 6 and all(a.element in ("C", "N") for a in atoms):
        for parity in (0, 1):
            if all(
                o == 4 or o == (2 if (i % 2 == parity) else 1)
                for i, o in enumerate(orders)
            ):
                return True
        return False
    if n == 5:
        doubles = [i for i, o in enumerate(orders) if o == 2]
        wilds = [i for i, o in enumerate(orders) if o == 4]
        if len(doubles) + len(wilds) >= 2 and len(doubles) <= 2:
            donors = [
                i
                for i in range(n)
                if orders[i] == 1 and orders[(i - 1) % n] == 1
            ]
            return len(donors) == 1 and atoms[donors[0]].element in ("N", "O", "S")
    return False


def _adjacent_in_ring(ring: list[int], a: int, b: int) -> bool:
    n = len(ring)
    for i in range(n):
        if {ring[i], ring[(i + 1) % n]} == {a, b}:
            return True
    return False


def _apply_aromatic(mol: Mol, ring: list[int]) -> bool:
    changed = False
    ring_set = set(ring)
    for i in ring:
        if not mol.atoms[i].aromatic:
            mol.atoms[i].aromatic = True
            changed = True
    for i in ring:
        new_bonds = []
        for j, o in mol.bonds[i]:
            if j in ring_set and _adjacent_in_ring(ring, i, j) and o != 4:
                new_bonds.append((j, 4))
                changed = True
            else:
                new_bonds.append((j, o))
        mol.bonds[i] = new_bonds
    return changed


def aromatize(mol: Mol) -> Mol:
    """Fixpoint of the ring rules with SIMULTANEOUS application: every
    pass evaluates all cycles against the frozen current state, then
    aromatizes every match at once — no dependence on ring processing
    order, so isomorphic graphs aromatize identically. H counts are
    preserved through the bond-order rewrite via explicit brackets
    where they would change ([nH] pyrrole)."""
    try:
        rings = _all_small_cycles(mol)
    except RecursionError:
        return mol
    if not rings:
        return mol
    for _ in range(len(rings) + 1):
        matched = [r for r in rings if _ring_matches(mol, r)]
        if not matched:
            break
        affected = {i for r in matched for i in r}
        old_h = {i: mol.implicit_h(i) for i in affected}
        changed = False
        for r in matched:
            changed |= _apply_aromatic(mol, r)
        for i in affected:
            a = mol.atoms[i]
            if a.h_count is None and mol.implicit_h(i) != old_h[i]:
                a.h_count = old_h[i]
                a.bracket = True
        if not changed:
            break
    return mol


def canonical_smiles(s: str, keep_all_fragments: bool = False) -> str | None:
    """Canonical SMILES of the LARGEST fragment (the reference's
    fragment-cleanup convention) — None on parse failure. With
    `keep_all_fragments`, every fragment is canonicalized and joined
    with '.' in sorted order.

    Pipeline: aromatize -> fragment selection -> uncharge (scoped to
    the kept fragment) -> re-aromatize -> canonical-tautomer selection
    -> canonical write.

    IDENTITY IS TAUTOMER-LEVEL: the bounded amidine/guanidine
    1,3-shift enumeration (tautomer_variants) means two tautomeric
    writings of the same system ('NC=NC' and 'N=CNC') canonicalize to
    the SAME string, mirroring the reference's TautomerEnumerator
    .Canonicalize step (finalize_realease.py:247). morgan_count_fp is
    deliberately NOT tautomer-canonical (it mirrors the reference's
    D4 prep, which has no tautomer step), so fp(canonical_smiles(s))
    may differ from fp(s) when canonicalization picks the other
    tautomer; the function IS idempotent, so fp∘canonical_smiles is a
    well-defined tautomer-level fingerprint when one is needed. Aromatization
    runs FIRST so fragment tie-breaking and uncharge's retention
    ranks see the perception-unified graph (selecting on the raw
    parse made both kekulization-dependent — two writings of the same
    salt could keep different fragments); fragment selection precedes
    uncharge so a dropped counterion ([Na+]) cannot hold the kept
    fragment's charge via zwitterion parity; and the second aromatize
    picks up rings that only become aromatizable once neutralized
    (kekulized pyridinium)."""
    try:
        mol = aromatize(parse_smiles(s))
        if keep_all_fragments:
            mol = aromatize(uncharge(mol))
            parts = sorted(
                _write(mol, f, canonical_ranks(mol, f)) for f in fragments(mol)
            )
            return ".".join(parts)
        frag = largest_fragment(mol)
        mol = aromatize(uncharge(mol, frag))
        # canonical tautomer: smallest canonical string over the
        # bounded amidine/guanidine placements (mirrors the
        # reference's TautomerEnumerator.Canonicalize step; unifies
        # N=C(N)... with NC(=N)... writings of the same biguanide)
        return min(
            _write(v, frag, canonical_ranks(v, frag))
            for v in tautomer_variants(mol, frag)
        )
    except SmilesError:
        return None
    except RecursionError:
        # the DFS writer recurses once per chain atom — a polymer-
        # sized molecule degrades to None rather than crashing the
        # Arrow batch
        return None


# ---------------------------------------------------------------------------
# ECFP-style circular count fingerprint
# ---------------------------------------------------------------------------


def morgan_count_fp(
    s: str, radius: int = 2, largest_only: bool = True
) -> dict[int, int] | None:
    """dict[env_hash -> count] over atom environments of radius
    0..`radius` — the count-fingerprint shape the D4 metrics consume.
    Hashes are order-invariant (sorted neighbor envs). Mol prep
    mirrors the reference's D4 prep (finalize_realease.py:352-430):
    aromatize, largest fragment, then uncharge scoped to it — so
    [NH3+]/[O-] salts fingerprint identically to their neutral
    parents (fragment selection and retention ranks run on the
    aromatized graph; see canonical_smiles on why).

    TAUTOMER-SENSITIVE by design: no tautomer canonicalization runs
    here (the reference's D4 prep has none), so 'NC=NC' and 'N=CNC'
    fingerprint differently even though canonical_smiles unifies
    them. Compose fp(canonical_smiles(s)) for a tautomer-level
    fingerprint."""
    try:
        mol = aromatize(parse_smiles(s))
        # largest_fragment's tie-break may invoke the recursive writer
        atoms = (
            largest_fragment(mol) if largest_only else list(range(len(mol.atoms)))
        )
        mol = aromatize(uncharge(mol, atoms if largest_only else None))
    except (SmilesError, RecursionError):
        return None
    inset = set(atoms)
    env: dict[int, int] = {}
    for i in atoms:
        a = mol.atoms[i]
        env[i] = _h32(
            ("a", a.element, a.aromatic, a.charge, mol.implicit_h(i))
        )
    fp: dict[int, int] = {}
    for h in env.values():
        fp[h] = fp.get(h, 0) + 1
    for _ in range(radius):
        nxt = {
            i: _h32(
                (
                    "e",
                    env[i],
                    tuple(
                        sorted((o, env[j]) for j, o in mol.bonds[i] if j in inset)
                    ),
                )
            )
            for i in atoms
        }
        env = nxt
        for h in env.values():
            fp[h] = fp.get(h, 0) + 1
    return fp


def morgan_bit_fp(s: str, radius: int = 2, n_bits: int = 2048) -> dict[int, int] | None:
    """2048-bit folded variant (the D3 panel form): on-bits as
    {bit: 1}."""
    fp = morgan_count_fp(s, radius, largest_only=False)
    if fp is None:
        return None
    return {h % n_bits: 1 for h in fp}


# ---------------------------------------------------------------------------
# Substructure search (backtracking subgraph isomorphism)
# ---------------------------------------------------------------------------


def has_substructure(query: str, target: str) -> bool:
    """True iff the query graph embeds in the target graph (element,
    aromaticity and charge must match; bond orders must match, with
    aromatic matching aromatic). Both sides are uncharged first — the
    reference preps query AND target through its uncharger before
    matching (finalize_realease.py:352-430), so a protonated amine
    still matches a neutral pattern.

    Both sides are also reduced to their LARGEST FRAGMENT before
    matching — the reference's mol_from_smiles drops non-largest
    fragments, so a query must embed in the parent molecule itself,
    never in a counterion (query 'Cl' does NOT match '...guanidine.Cl')."""
    try:
        qm = aromatize(parse_smiles(query))
        tm = aromatize(parse_smiles(target))
        qf, tf = largest_fragment(qm), largest_fragment(tm)
        q = aromatize(extract_fragment(uncharge(qm, qf), qf))
        t = aromatize(extract_fragment(uncharge(tm, tf), tf))
    except SmilesError:
        return False
    # tautomer-aware, exactly the reference's shape (tautomer_submatch,
    # finalize_realease.py:363-375): ANY tautomer of the QUERY may
    # embed in the target; the target is prepped but not enumerated
    return any(_match(qv, t) for qv in tautomer_variants(q))


def _match(q: Mol, t: Mol) -> bool:
    nq, nt = len(q.atoms), len(t.atoms)
    if nq > nt:
        return False

    def atom_ok(qi: int, ti: int) -> bool:
        a, b = q.atoms[qi], t.atoms[ti]
        if a.element != b.element or a.aromatic != b.aromatic:
            return False
        if a.charge != b.charge:
            return False
        if a.h_count is not None and t_implicit[ti] < a.h_count:
            return False
        return True

    t_implicit = [t.implicit_h(i) for i in range(nt)]
    # order query atoms connectivity-first for early pruning
    order: list[int] = []
    seen: set[int] = set()
    for start in range(nq):
        if start in seen:
            continue
        todo = [start]
        seen.add(start)
        while todo:
            x = todo.pop(0)
            order.append(x)
            for j, _ in q.bonds[x]:
                if j not in seen:
                    seen.add(j)
                    todo.append(j)

    mapping: dict[int, int] = {}
    used: set[int] = set()

    def extend(pos: int) -> bool:
        if pos == nq:
            return True
        qi = order[pos]
        # candidates: neighbors of already-mapped query neighbors
        anchor = None
        for j, o in q.bonds[qi]:
            if j in mapping:
                anchor = (j, o)
                break
        cands = (
            [tj for tj, _ in t.bonds[mapping[anchor[0]]]]
            if anchor
            else range(nt)
        )
        for ti in cands:
            if ti in used or not atom_ok(qi, ti):
                continue
            ok = True
            for j, o in q.bonds[qi]:
                if j in mapping:
                    t_orders = [oo for tj, oo in t.bonds[ti] if tj == mapping[j]]
                    if not t_orders or o not in t_orders:
                        ok = False
                        break
            if ok:
                mapping[qi] = ti
                used.add(ti)
                if extend(pos + 1):
                    return True
                del mapping[qi]
                used.discard(ti)
        return False

    try:
        return extend(0)
    except RecursionError:
        return False
