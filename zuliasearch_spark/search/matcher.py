"""Boolean clause combination over dense per-doc arrays.

Shared by the exhaustive oracle (over corpus rows) and the per-shard
DAAT kernel (over a shard's doc-id space) so Lucene BooleanQuery
semantics (ZuliaIndex.generateClause:780-835) are implemented exactly
once:

- SCORE_MUST / FILTER / TERMS constrain the match set (FILTER/TERMS
  contribute no score);
- SCORE_SHOULD is optional unless no required clause exists, in which
  case at least one SHOULD must match;
- FILTER_NOT / TERMS_NOT exclude; a query of only negative clauses
  matches everything else (the reference's MatchAll fix-up,
  ZuliaIndex.java:715-717,934-937);
- inside a clause, tokens form GROUPS (TermSpec.group): a group
  matches iff any of its per-field subgroups matches, and a subgroup
  matches iff all of its analyzed terms match (the reference's
  per-token OR-across-fields expansion,
  ZuliaMultiFieldQueryNodeProcessor.java:36-60). AND requires every
  required group, OR requires ``min_optional`` (mm) of the optional
  groups; clause score = sum of matched term scores (clause boost
  folded into the term weights, like Lucene's BoostQuery pushing
  boost into TermQuery weights).

Scores accumulate in float64 and downcast to float32 once at the end
when ``parity`` — matching Lucene's double accumulator + float
score() contract.
"""

from __future__ import annotations

import numpy as np

from zuliasearch_spark.search.query import (
    FILTER,
    FILTER_NOT,
    SCORE_MUST,
    SCORE_SHOULD,
    TERMS,
    TERMS_NOT,
    ResolvedClause,
    TermSpec,
)


def combine_clauses(
    resolved: list[ResolvedClause],
    term_vectors,
    n: int,
    parity: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Evaluate the boolean query over a dense doc space of size ``n``.

    ``term_vectors(spec: TermSpec, boost: float) -> (mask, score)``
    returns a bool match mask and float64 score vector of length
    ``n`` for one (field, term) leaf.

    Returns ``(match_mask, score)``.
    """
    pos_mask = np.ones(n, dtype=bool)
    neg_mask = np.zeros(n, dtype=bool)
    should_any = np.zeros(n, dtype=bool)
    has_required = False
    has_should = False
    score_parts: list[tuple[np.ndarray, np.ndarray]] = []

    for rc in resolved:
        c = rc.clause
        cscore = np.zeros(n, dtype=np.float64)
        # (group, subgroup) -> combined leaf masks + Σ leaf scores;
        # group -> OR of subgroups. A subgroup combines its analyzed
        # terms with the clause's default operator (Lucene's
        # AnalyzerQueryNodeProcessor + DefaultOperator: AND makes a
        # multi-term token a conjunction, OR a disjunction). A
        # conjunction that doesn't fully match contributes NO score.
        sub_masks: dict[tuple[int, int], np.ndarray] = {}
        sub_scores: dict[tuple[int, int], np.ndarray] = {}
        sub_conj: dict[tuple[int, int], bool] = {}
        group_required: dict[int, bool] = {}
        for spec in rc.specs:
            # clause boost × per-field ``field^N`` boost (the
            # reference pushes both into the term weight like
            # Lucene's BoostQuery)
            m, s = term_vectors(spec, c.boost * getattr(spec, "boost", 1.0))
            key = (spec.group, spec.subgroup)
            prev = sub_masks.get(key)
            if prev is None:
                sub_masks[key] = m
                sub_scores[key] = np.where(m, s, 0.0)
            else:
                sub_masks[key] = (prev & m) if spec.required else (prev | m)
                sub_scores[key] = sub_scores[key] + np.where(m, s, 0.0)
                sub_conj[key] = spec.required
            group_required[spec.group] = spec.required

        group_masks: dict[int, np.ndarray] = {}
        for key, m in sub_masks.items():
            g = key[0]
            if sub_conj.get(key):
                # conjunction subgroup: gate the leaf scores on full match
                cscore += np.where(m, sub_scores[key], 0.0)
            else:
                cscore += sub_scores[key]
            prev = group_masks.get(g)
            group_masks[g] = m if prev is None else (prev | m)

        cm = np.ones(n, dtype=bool) if rc.specs else np.zeros(n, dtype=bool)
        opt_cnt = None
        for g, gm in group_masks.items():
            if group_required[g]:
                cm &= gm
            else:
                opt_cnt = gm.astype(np.int64) if opt_cnt is None else opt_cnt + gm
        if opt_cnt is not None:
            cm &= opt_cnt >= rc.min_optional

        if c.type in (SCORE_MUST, FILTER, TERMS):
            pos_mask &= cm
            has_required = True
            if c.type == SCORE_MUST:
                score_parts.append((cm, cscore))
        elif c.type == SCORE_SHOULD:
            has_should = True
            should_any |= cm
            score_parts.append((cm, cscore))
        elif c.type in (FILTER_NOT, TERMS_NOT):
            neg_mask |= cm
        else:
            raise ValueError(f"unknown clause type: {c.type}")

    match = pos_mask & ~neg_mask
    if has_should and not has_required:
        match &= should_any

    total = np.zeros(n, dtype=np.float64)
    for cm, cs in score_parts:
        total += np.where(cm & match, cs, 0.0)
    if parity:
        total = total.astype(np.float32).astype(np.float64)
    return match, total


def evaluate_tree(root, term_vectors, n: int, parity: bool, root_fixup: bool = True):
    """Evaluate a resolved query-string AST (parser.RBool / RLeaf)
    over a dense doc space — the nested-BooleanQuery generalization
    of :func:`combine_clauses` for parsed queries (groups can nest,
    carry their own mm — Lucene setMinimumNumberShouldMatch — and
    mix +/- with bare terms).

    Doc-values leaves (parser.RRange / RNumericSet / RGeo) are leaves
    like any other: ``term_vectors(leaf, 0.0)`` returns their mask and
    a zero score, so they compose in every boolean position.

    ``root_fixup``: a top-level query of only prohibited clauses
    matches everything else (the reference's MatchAll fix-up,
    ZuliaIndex.java:715-717); NESTED pure-negative groups match
    nothing, as in Lucene.
    """
    from zuliasearch_spark.search.parser import MUST, MUST_NOT, RBool, RLeaf

    def eval_node(node, top: bool):
        if isinstance(node, RLeaf):
            # subgroup algebra shared with combine_clauses: OR across
            # fields; multi-term tokens conj/disj by default operator
            sub: dict[int, tuple[np.ndarray, np.ndarray, int]] = {}
            for spec in node.specs:
                m, s = term_vectors(spec, node.boost * getattr(spec, "boost", 1.0))
                got = sub.get(spec.subgroup)
                if got is None:
                    sub[spec.subgroup] = (m, np.where(m, s, 0.0), 1)
                else:
                    pm, ps, cnt = got
                    nm = (pm & m) if node.conj else (pm | m)
                    sub[spec.subgroup] = (nm, ps + np.where(m, s, 0.0), cnt + 1)
            mask = np.zeros(n, dtype=bool)
            score = np.zeros(n, dtype=np.float64)
            for m, s, cnt in sub.values():
                mask |= m
                score += np.where(m, s, 0.0) if (node.conj and cnt > 1) else s
            return mask, np.where(mask, score, 0.0)
        if not isinstance(node, RBool):
            # doc-values leaf (range / numeric set / geo): term_vectors
            # returns its allowed-doc mask with score 0.0
            return term_vectors(node, 0.0)
        mask = np.ones(n, dtype=bool)
        score = np.zeros(n, dtype=np.float64)
        should_cnt = None
        has_must = has_should = False
        neg = np.zeros(n, dtype=bool)
        for occur, child in node.children:
            cm, cs = eval_node(child, False)
            if occur == MUST:
                mask &= cm
                score += cs
                has_must = True
            elif occur == MUST_NOT:
                neg |= cm
            else:
                should_cnt = cm.astype(np.int64) if should_cnt is None else should_cnt + cm
                score += cs
                has_should = True
        mask &= ~neg
        if has_should:
            req = node.mm if node.mm > 0 else (0 if has_must else 1)
            if req > 0:
                mask &= should_cnt >= req
        elif not has_must:
            # only prohibited children: nothing matches (Lucene),
            # unless this is the root and the fix-up applies
            if not (top and root_fixup):
                mask = np.zeros(n, dtype=bool)
        if node.boost != 1.0:
            score = score * node.boost
        return mask, np.where(mask, score, 0.0)

    match, total = eval_node(root, True)
    if parity:
        total = total.astype(np.float32).astype(np.float64)
    return match, total
