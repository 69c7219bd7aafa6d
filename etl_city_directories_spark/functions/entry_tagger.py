"""Trainable directory-entry tagger — the reference's CRF contract.

The reference parses entries by piping each line to a trained CRF
(entry-parser.js:23-36 spawns ``parse.py --training <file>`` and reads
one JSON of token labels per line). This module reproduces that
architecture with public-knowledge machinery and no native deps: a
linear-chain conditional random field (Lafferty, McCallum & Pereira
2001) over word-shape/context features — forward-backward maximum-
likelihood training, exact Viterbi decode. An averaged structured
perceptron (Collins 2002, "Discriminative Training Methods for HMMs")
is kept as the differential baseline: both trainers share one feature
function and one ``{label: {feature: weight}}`` weight shape, so the
broadcast/decode plumbing is common.

Training follows the reference's data contract: a labeled corpus of
(tokens, labels) lines. ``synth_training_corpus`` generates one from
the same entry grammar the corpus synthesizer uses — deterministic
(md5-seeded), so every engine trains the identical model; a real
deployment passes its hand-labeled lines to ``train`` instead, exactly
like pointing parse.py at different training data.

Label set (mirrors the published city-directory-entry-parser classes):
  SUBJ — the entry's person name tokens
  OCC  — occupation tokens
  LOC  — address tokens (house number / street / corner)
  MARK — location-type markers (h, r, bds, b)
  WID  — widow-relationship tokens (wid/widow/of + late husband name)

Spark shape: training is driver-side index construction (one pass over
a small labeled file — seconds); the learned weights broadcast to
executors inside an Arrow-batched pandas UDF, so tagging is a map-side
vectorized pass with zero per-row Python round-trips to the driver.
"""

from __future__ import annotations

import functools
import hashlib
import math
from collections import defaultdict

LABELS = ("SUBJ", "OCC", "LOC", "MARK", "WID")

_NAMES_FIRST = (
    "Smith", "Brown", "Miller", "Johnson", "Davis", "Wilson", "Taylor",
    "Anderson", "Thomas", "Jackson", "White", "Harris", "Jones", "Clark",
)
_NAMES_SECOND = (
    "John", "Wm", "Chas", "Thos", "Geo", "Jas", "Robt", "Saml", "Edw",
    "Benj", "Danl", "Fredk", "Mary", "Sarah", "Ann", "Eliza",
)
_OCCS = (
    "carpenter", "grocer", "clerk", "tailor", "smith", "porter", "mason",
    "printer", "lab.", "mach.", "seamstress", "shoemaker", "baker",
    "cartman", "painter",
)
_STREETS = (
    "Broadway", "Elm", "Pearl", "Water", "Cherry", "Mulberry", "Greenwich",
    "Chambers", "Canal", "Orchard", "Vine", "Broad",
)
_MARKERS = ("h", "r", "bds", "b")


def _det(i: int, salt: str, n: int) -> int:
    """Deterministic pseudo-random index — replayable everywhere."""
    h = hashlib.md5(f"{salt}|{i}".encode()).hexdigest()
    return int(h[:8], 16) % n


def synth_training_corpus(n: int = 600) -> list[tuple[list[str], list[str]]]:
    """Labeled (tokens, labels) lines from the entry grammar: plain
    work-address entries, home pairs, widow forms, marker-led and
    number-less corner locations — the classes real pages hit — plus
    the messy real-scan forms the reference's training data carries
    (entry-parser.js training contract): OCR dot-run artifacts INSIDE
    name tokens ("W..m"), widow entries that also carry an occupation
    ("wid. Peter, seamstress, 14 Elm" — the wid.+OCC collision), and
    number-less corner locations as bare WORK addresses with no
    marker ("porter, Pearl c Cherry")."""
    out: list[tuple[list[str], list[str]]] = []
    for i in range(n):
        toks: list[str] = []
        labs: list[str] = []

        def emit(tok: str, lab: str) -> None:
            toks.append(tok)
            labs.append(lab)

        last = _NAMES_FIRST[_det(i, "ln", len(_NAMES_FIRST))]
        first = _NAMES_SECOND[_det(i, "fn", len(_NAMES_SECOND))]
        if _det(i, "dotn", 6) == 0:
            # OCR dot-run inside the surname: "Sm..ith"
            cut = 1 + _det(i, "dotp", max(1, len(last) - 1))
            last = f"{last[:cut]}..{last[cut:]}"
        emit(last, "SUBJ")
        name_form = _det(i, "nf", 3)
        if name_form == 0:  # middle initial: "Brown Wm. H,"
            emit(f"{first}.", "SUBJ")
            emit(f"{'ABCDEFGHJW'[_det(i, 'mi', 10)]},", "SUBJ")
        else:
            if _det(i, "dotf", 8) == 0:
                # dot-run inside the given name: "W..m,"
                first = f"{first[:1]}..{first[1:]}"
            emit(f"{first},", "SUBJ")
        form = _det(i, "form", 8)
        if form == 0:  # widow of John, h 23 Pearl
            emit("widow", "WID")
            emit("of", "WID")
            emit(f"{_NAMES_SECOND[_det(i, 'wn', len(_NAMES_SECOND))]},", "WID")
        elif form == 1:  # wid. Peter, 14 Elm
            emit("wid.", "WID")
            emit(f"{_NAMES_SECOND[_det(i, 'wn', len(_NAMES_SECOND))]},", "WID")
        elif form == 6:  # wid.+occupation collision: wid. Peter, seamstress, 14 Elm
            emit("wid.", "WID")
            emit(f"{_NAMES_SECOND[_det(i, 'wn', len(_NAMES_SECOND))]},", "WID")
            emit(f"{_OCCS[_det(i, 'occ', len(_OCCS))]},", "OCC")
        else:
            occ = _OCCS[_det(i, "occ", len(_OCCS))]
            if _det(i, "on", 4) == 0:  # collapsed OCR dot-run: "grocer.,"
                occ += "."
            emit(f"{occ},", "OCC")
        street = _STREETS[_det(i, "st", len(_STREETS))]
        num = str(_det(i, "num", 300) + 1)
        if form == 3:  # marker + number
            emit(_MARKERS[_det(i, "mk", len(_MARKERS))], "MARK")
            emit(num, "LOC")
            emit(street, "LOC")
        elif form == 4:  # number-less corner home
            emit("h", "MARK")
            emit(street, "LOC")
            emit("c", "LOC")
            emit(_STREETS[_det(i, "st2", len(_STREETS))], "LOC")
        elif form == 5:  # work + home pair
            emit(f"{num}", "LOC")
            emit(f"{street},", "LOC")
            emit("h", "MARK")
            emit(str(_det(i, "num2", 300) + 1), "LOC")
            emit(_STREETS[_det(i, "st2", len(_STREETS))], "LOC")
        elif form == 7:  # number-less corner WORK address, no marker
            emit(street, "LOC")
            emit("c", "LOC")
            emit(_STREETS[_det(i, "st2", len(_STREETS))], "LOC")
        else:  # bare work address (+ home for widows half the time)
            emit(num, "LOC")
            emit(street, "LOC")
            if form < 2 and _det(i, "wh", 2) == 0:
                toks[-1] += ","
                emit("h", "MARK")
                emit(str(_det(i, "num2", 300) + 1), "LOC")
                emit(_STREETS[_det(i, "st2", len(_STREETS))], "LOC")
        out.append((toks, labs))
    return out


def _shape(w: str) -> str:
    return "".join(
        "9" if c.isdigit() else ("X" if c.isupper() else "x") for c in w[:4]
    )


def _features(toks: list[str], i: int, prev_label: str) -> list[str]:
    w = toks[i]
    bare = w.rstrip(".,").lower()
    feats = [
        f"w={bare}",
        f"shape={_shape(w)}",
        f"suf3={bare[-3:]}",
        f"pos0={i == 0}",
        f"comma={w.endswith(',')}",
        f"digit={bare.isdigit()}",
        f"prevlab={prev_label}",
        f"prevw={toks[i - 1].rstrip('.,').lower() if i else '<s>'}",
        f"nextw={toks[i + 1].rstrip('.,').lower() if i + 1 < len(toks) else '</s>'}",
        f"prevlab+shape={prev_label}|{_shape(w)}",
        f"prevlab+w={prev_label}|{bare}",
    ]
    return feats


def train(
    corpus: list[tuple[list[str], list[str]]], epochs: int = 5
) -> dict[str, dict[str, float]]:
    """Averaged perceptron: greedy decode, per-token update, weights
    averaged over all updates (Collins 2002). Returns
    {label: {feature: weight}} ready to broadcast."""
    w: dict[str, dict[str, float]] = {lab: defaultdict(float) for lab in LABELS}
    acc: dict[str, dict[str, float]] = {lab: defaultdict(float) for lab in LABELS}
    t = 1
    for _ in range(epochs):
        for toks, labs in corpus:
            prev = "<s>"
            for i, gold in enumerate(labs):
                feats = _features(toks, i, prev)
                pred = max(
                    LABELS,
                    key=lambda lab: sum(w[lab][f] for f in feats),
                )
                if pred != gold:
                    for f in feats:
                        w[gold][f] += 1.0
                        acc[gold][f] += t
                        w[pred][f] -= 1.0
                        acc[pred][f] -= t
                prev = gold  # gold history (standard training-time choice)
                t += 1
    # averaged weights: w - acc/t
    return {
        lab: {f: v - acc[lab][f] / t for f, v in w[lab].items()}
        for lab in LABELS
    }


# ---------------------------------------------------------------------------
# linear-chain CRF (the reference's actual model class)
# ---------------------------------------------------------------------------
#
# The feature function is shared with the perceptron: _features(toks, i,
# prev_label) yields position feats plus three prev-label-conjoined
# feats, i.e. exactly the edge feature template f(y_{i-1}, y_i, x, i) of
# a linear-chain CRF. Splitting it into a prev-independent base and the
# 3 prev-conjoined feats lets potentials/decode cost O(|L|·base +
# |L|²·3) lookups per position instead of |L|²·|feats|.


def _feat_base(toks: list[str], i: int) -> tuple[list[str], str, str]:
    """Prev-label-independent features + (shape, bare) for the
    prev-conjoined part. MUST mirror _features exactly (pinned by
    tests/test_entry_forms.py::test_crf_feature_split_parity)."""
    w = toks[i]
    bare = w.rstrip(".,").lower()
    sh = _shape(w)
    base = [
        f"w={bare}",
        f"shape={sh}",
        f"suf3={bare[-3:]}",
        f"pos0={i == 0}",
        f"comma={w.endswith(',')}",
        f"digit={bare.isdigit()}",
        f"prevw={toks[i - 1].rstrip('.,').lower() if i else '<s>'}",
        f"nextw={toks[i + 1].rstrip('.,').lower() if i + 1 < len(toks) else '</s>'}",
    ]
    return base, sh, bare


def _prev_feats(prev_label: str, sh: str, bare: str) -> tuple[str, str, str]:
    return (
        f"prevlab={prev_label}",
        f"prevlab+shape={prev_label}|{sh}",
        f"prevlab+w={prev_label}|{bare}",
    )


def _potentials(
    toks: list[str], weights: dict[str, dict[str, float]]
) -> list[dict[str, dict[str, float]]]:
    """Per-position edge potentials psi[i][prev][lab] =
    Σ_f w[lab][f] over f ∈ _features(toks, i, prev); position 0 uses
    the single virtual prev '<s>'."""
    out: list[dict[str, dict[str, float]]] = []
    for i in range(len(toks)):
        base, sh, bare = _feat_base(toks, i)
        base_score = {
            lab: sum(weights[lab].get(f, 0.0) for f in base) for lab in LABELS
        }
        prevs = ("<s>",) if i == 0 else LABELS
        psi: dict[str, dict[str, float]] = {}
        for a in prevs:
            pf = _prev_feats(a, sh, bare)
            psi[a] = {
                lab: base_score[lab]
                + sum(weights[lab].get(f, 0.0) for f in pf)
                for lab in LABELS
            }
        out.append(psi)
    return out


def _logsumexp(vals: list[float]) -> float:
    m = max(vals)
    return m + math.log(sum(math.exp(v - m) for v in vals))


def train_crf(
    corpus: list[tuple[list[str], list[str]]],
    epochs: int = 6,
    lr: float = 0.4,
    l2: float = 1e-4,
) -> dict[str, dict[str, float]]:
    """Linear-chain CRF trained by maximum likelihood: per-sentence
    forward-backward gives exact edge marginals; SGD with a decaying
    step follows the gradient (observed − expected feature counts),
    with L2 applied to the touched features. Pure Python, fixed
    iteration order, no RNG — bit-deterministic everywhere, like the
    perceptron path. Returns the same {label: {feature: weight}} shape
    ``tag`` and the broadcast plumbing already consume."""
    w: dict[str, dict[str, float]] = {lab: defaultdict(float) for lab in LABELS}
    for epoch in range(epochs):
        step = lr / (1.0 + 0.6 * epoch)
        for toks, labs in corpus:
            n = len(toks)
            if n == 0:
                continue
            psi = _potentials(toks, w)
            # forward (log-space)
            alpha = [psi[0]["<s>"]]
            for i in range(1, n):
                alpha.append(
                    {
                        b: _logsumexp(
                            [alpha[i - 1][a] + psi[i][a][b] for a in LABELS]
                        )
                        for b in LABELS
                    }
                )
            log_z = _logsumexp([alpha[n - 1][b] for b in LABELS])
            # backward
            beta = [dict.fromkeys(LABELS, 0.0) for _ in range(n)]
            for i in range(n - 2, -1, -1):
                beta[i] = {
                    a: _logsumexp(
                        [psi[i + 1][a][b] + beta[i + 1][b] for b in LABELS]
                    )
                    for a in LABELS
                }
            # gradient = observed − expected, applied feature-sparse
            grad: dict[str, dict[str, float]] = {
                lab: defaultdict(float) for lab in LABELS
            }

            def bump(lab: str, feats, amt: float) -> None:
                g = grad[lab]
                for f in feats:
                    g[f] += amt

            for i in range(n):
                base, sh, bare = _feat_base(toks, i)
                prevs = ("<s>",) if i == 0 else LABELS
                for a in prevs:
                    pf = _prev_feats(a, sh, bare)
                    for b in LABELS:
                        if i == 0:
                            marg = math.exp(alpha[0][b] + beta[0][b] - log_z)
                        else:
                            marg = math.exp(
                                alpha[i - 1][a] + psi[i][a][b] + beta[i][b]
                                - log_z
                            )
                        gold = (
                            labs[i] == b
                            and (labs[i - 1] if i else "<s>") == a
                        )
                        diff = (1.0 if gold else 0.0) - marg
                        if diff:
                            bump(b, base, diff)
                            bump(b, pf, diff)
            for lab in LABELS:
                wl = w[lab]
                for f, g in grad[lab].items():
                    wl[f] += step * (g - l2 * wl[f])
    return {lab: dict(v) for lab, v in w.items()}


@functools.cache
def model() -> dict[str, dict[str, float]]:
    """The default model — a linear-chain CRF trained once per process
    on the synthetic labeled corpus (deterministic — identical
    everywhere). The decode contract (``tag`` = exact Viterbi) and the
    weight shape are unchanged from the perceptron era, so broadcast
    call sites need no knowledge of which trainer produced the model."""
    return train_crf(synth_training_corpus())


def tag(toks: list[str], weights: dict[str, dict[str, float]]) -> list[str]:
    """Exact Viterbi decode under the shared edge-feature scoring —
    the CRF's MAP sequence. Works identically over perceptron-trained
    weights (same shape, same feature function); greedy left-to-right
    is kept as ``tag_greedy`` for differential tests.

    Hot path of the mapInPandas decode, so it runs on flat lists
    (label index, not label string): per position |L| base-feature
    sums + |L|²·3 prev-feature lookups. Ties break toward the earlier
    label in LABELS order at every step, matching ``max`` over LABELS
    (pinned by test_viterbi_is_exact_map)."""
    n = len(toks)
    if n == 0:
        return []
    wl = [weights[lab] for lab in LABELS]
    nlab = len(wl)
    base, sh, bare = _feat_base(toks, 0)
    pf = _prev_feats("<s>", sh, bare)
    delta = [
        sum(w.get(f, 0.0) for f in base) + sum(w.get(f, 0.0) for f in pf)
        for w in wl
    ]
    backs: list[list[int]] = []
    for i in range(1, n):
        base, sh, bare = _feat_base(toks, i)
        pfs = [_prev_feats(lab, sh, bare) for lab in LABELS]
        nd = [0.0] * nlab
        bp = [0] * nlab
        for bi in range(nlab):
            w = wl[bi]
            bs = sum(w.get(f, 0.0) for f in base)
            best = None
            best_a = 0
            for ai in range(nlab):
                f0, f1, f2 = pfs[ai]
                s = (
                    delta[ai] + bs
                    + w.get(f0, 0.0) + w.get(f1, 0.0) + w.get(f2, 0.0)
                )
                if best is None or s > best:
                    best, best_a = s, ai
            nd[bi] = best
            bp[bi] = best_a
        delta = nd
        backs.append(bp)
    cur = max(range(nlab), key=lambda bi: (delta[bi], -bi))
    path = [cur]
    for bp in reversed(backs):
        cur = bp[cur]
        path.append(cur)
    path.reverse()
    return [LABELS[bi] for bi in path]


def tag_greedy(
    toks: list[str], weights: dict[str, dict[str, float]]
) -> list[str]:
    """Greedy left-to-right decode (the perceptron-era path, kept as
    the differential baseline for Viterbi)."""
    out: list[str] = []
    prev = "<s>"
    for i in range(len(toks)):
        feats = _features(toks, i, prev)
        best = max(
            LABELS,
            key=lambda lab: sum(weights[lab].get(f, 0.0) for f in feats),
        )
        out.append(best)
        prev = best
    return out


def entry_from_tags(toks: list[str], labs: list[str]) -> dict:
    """Token labels → the entry-parser output contract (subject,
    occupations, widow_of, locations with loc_type)."""
    subject = " ".join(
        t.rstrip(",") for t, l in zip(toks, labs) if l == "SUBJ"
    )
    occupations: list[str] = []
    cur_occ: list[str] = []
    locations: list[dict] = []
    cur_loc: list[str] = []
    cur_type = "address"
    wid: list[str] = []

    def close_occ() -> None:
        if cur_occ:
            occupations.append(" ".join(cur_occ))
            cur_occ.clear()

    def close_loc() -> None:
        nonlocal cur_type
        if cur_loc:
            locations.append(
                {"value": " ".join(cur_loc), "loc_type": cur_type}
            )
            cur_loc.clear()
        cur_type = "address"

    _TYPE = {"h": "home", "r": "rear", "bds": "boards", "b": "boards"}
    for t, l in zip(toks, labs):
        bare = t.rstrip(".,")
        if l == "OCC":
            # strip the segment comma, keep abbreviation periods (lab.)
            cur_occ.append(t.rstrip(","))
            if t.endswith(","):
                close_occ()
        elif l == "MARK":
            close_loc()
            cur_type = _TYPE.get(bare.lower(), "address")
        elif l == "LOC":
            cur_loc.append(bare)
            if t.endswith(","):
                close_loc()
        elif l == "WID" and bare.lower() not in ("wid", "widow", "of"):
            wid.append(bare)
    close_occ()
    close_loc()
    return {
        "subject": subject,
        "occupations": occupations,
        "widow_of": " ".join(wid) if wid else None,
        "locations": locations,
    }
