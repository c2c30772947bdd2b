"""Plain-Python correctness oracle, replayed from the generator's ground
truth and never from the package's output.

Accession numbering follows the registry's contract
(`plans.accession.AccessionRegistry.assign`): per release, the feature
sequences of a (locus, term, rank) context that the registry has not seen
are sorted and numbered after the context's prior maximum. A GFE name is
the locus, ``w``, and the feature accessions in canonical order (5'UTR,
exon 1, intron 1, ..., 3'UTR). The expected graph follows the MERGE rules
of `plans.load` (create-only, releases-array union).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from perfbench.gen import BUILT_KINDS, Allele, Release

Context = tuple[str, str, int]  # (locus, TERM, rank)
FeatureKey = tuple[str, str, str, int]  # (locus, rank as text, TERM, accession)


def built_features(a: Allele) -> list[tuple[str, int, str, int]]:
    """(TERM, rank, sequence, canonical position) per feature, with the
    parser's term rules: a leading unnumbered feature is the 5'UTR, a
    trailing one the 3'UTR."""
    out = []
    for i, (ftype, num, seq) in enumerate(a.feats):
        if num is not None:
            term, rank = ftype.upper(), num
        elif i == 0:
            term, rank = "FIVE_PRIME_UTR", 1
        else:
            term, rank = "THREE_PRIME_UTR", 1
        if term == "FIVE_PRIME_UTR":
            pos = 0
        elif term == "EXON":
            pos = 2 * rank - 1
        elif term == "INTRON":
            pos = 2 * rank
        else:
            pos = 1_000_000
        out.append((term, rank, seq, pos))
    return out


def dotted(release: str) -> str:
    """'3400' -> '3.40.0' (the package's `version_dotted`)."""
    if len(release) == 3:
        return ".".join(release)
    return f"{release[0]}.{release[1:3]}.{release[3:]}"


@dataclass
class Expected:
    """Expected graph after a prefix of the release stream."""

    registry: dict[Context, dict[str, int]] = field(default_factory=dict)
    gfe_of: dict[str, str] = field(default_factory=dict)  # hla_name -> gfe name
    acc_of: dict[str, str] = field(default_factory=dict)  # hla_name -> allele id
    feats_of_gfe: dict[str, set[FeatureKey]] = field(default_factory=dict)
    ipd_releases: dict[tuple[str, str], set[int]] = field(default_factory=dict)
    accession_first: dict[tuple[str, str], str] = field(default_factory=dict)

    def ingest(self, rel: Release) -> None:
        """Replay one release: number new sequences, name GFEs, merge."""
        built = [a for a in rel.alleles if a.kind in BUILT_KINDS]
        fresh: dict[Context, set[str]] = {}
        for a in built:
            for term, rank, seq, _pos in built_features(a):
                ctx = (a.locus, term, rank)
                if seq not in self.registry.get(ctx, {}):
                    fresh.setdefault(ctx, set()).add(seq)
        for ctx, seqs in fresh.items():
            known = self.registry.setdefault(ctx, {})
            base = max(known.values(), default=0)
            for i, seq in enumerate(sorted(seqs)):
                known[seq] = base + i + 1
        rel_int = int(rel.release)
        for a in built:
            feats = sorted(built_features(a), key=lambda f: f[3])
            accs = [self.registry[(a.locus, t, r)][s] for t, r, s, _p in feats]
            gfe = a.locus + "w" + "-".join(str(x) for x in accs)
            self.gfe_of[a.hla_name] = gfe
            self.acc_of[a.hla_name] = a.allele_id
            self.feats_of_gfe.setdefault(gfe, set()).update(
                (a.locus, str(r), t, self.registry[(a.locus, t, r)][s]) for t, r, s, _p in feats
            )
            self.ipd_releases.setdefault((gfe, a.hla_name), set()).add(rel_int)
            self.accession_first.setdefault((gfe, a.allele_id), dotted(rel.release))

    # ---- expected answers of the read path --------------------------------

    def node_counts(self) -> dict[str, int]:
        gfes = set(self.gfe_of.values())
        return {
            "Feature": sum(len(v) for v in self.registry.values()),
            "GFE": len(gfes),
            "IPD_Accession": len(set(self.acc_of.values())),
            "IPD_Allele": len(self.gfe_of),
            "Sequence": len(gfes),
            "Submitter": 1,
        }

    def release_histogram(self) -> dict[int, int]:
        """A8: HAS_IPD_ALLELE edges per release in their releases array."""
        c: Counter[int] = Counter()
        for rels in self.ipd_releases.values():
            c.update(rels)
        return dict(c)

    def accession_histogram(self) -> dict[str, int]:
        """A9: HAS_IPD_ACCESSION edges per (first) release."""
        return dict(Counter(self.accession_first.values()))

    def features_of_allele(self, hla_name: str) -> list[tuple[str, int]]:
        gfe = self.gfe_of[hla_name]
        return sorted((t, int(r)) for _l, r, t, _a in self.feats_of_gfe[gfe])

    def shared_features(self, gfe: str) -> dict[str, int]:
        """The 2-hop query: other GFE -> number of features shared with `gfe`."""
        mine = self.feats_of_gfe[gfe]
        out: dict[str, int] = {}
        for other, feats in self.feats_of_gfe.items():
            n = len(mine & feats)
            if n:
                out[other] = n
        return out


def replay(releases: list[Release]) -> Expected:
    exp = Expected()
    for rel in releases:
        exp.ingest(rel)
    return exp
