"""Second stage: the unified ``Reranker.rank()`` API over batched scorers.

API parity with the reference's unified interface:
* factory dispatch model_name/model_type → concrete scorer
  (reference rerankers/reranker.py:196-247 + registry models/__init__.py:1-86)
* ``prep_docs`` doc normalization with positional id autogeneration and
  explicit-id override warning (reference rerankers/utils.py:68-120)
* ``rank(query, docs, doc_ids, metadata) -> RankedResults`` with the
  reference's ordering contract: stable desc sort by score, rank=idx+1
  (transformer_ranker.py:90-95), single-doc special case returns score
  but NO rank (transformer_ranker.py:87-88)
* ``score(query, doc) -> float`` (models/ranker.py:14-16)

Execution model: scorers are BATCHED functions over ``(query, text)``
pandas series, one call per Arrow batch — the Spark inversion of the
reference's fixed-size batch loop (transformer_ranker.py:72-78). The
distributed entry point is :meth:`Reranker.rank_df` (DataFrame in →
DataFrame out, used by the two-stage engine): one exchange on the query
key, then one Arrow map per task that scores and keeps each query's top
k. :meth:`Reranker.rank` is the driver-side list API for
reference-compatible callers.

Model-backed scorers (cross-encoder/T5/ColBERT — reference models/*.py)
are gated behind import-try: torch/transformers are not in this sandbox,
so they register lazily and raise a clear error if requested without the
dependency. The deterministic scorers below make the pipeline fully
testable without downloads.
"""

from __future__ import annotations

import warnings
from typing import Callable, List, Mapping, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from rerankers_spark.results import Document, RankedResults, Result

# ---------------------------------------------------------------------------
# Scorer registry — mirrors AVAILABLE_RANKERS (reference models/__init__.py)
# ---------------------------------------------------------------------------

# name -> factory(model_name=None) -> pandas-series scorer fn(query:
# pd.Series, text: pd.Series) -> pd.Series[float64]. Wrapped into a
# pandas_udf at use time; model_name picks the checkpoint for the
# model-backed families.
AVAILABLE_SCORERS: dict[str, Callable[..., Callable]] = {}


def register_scorer(name: str):
    def deco(factory):
        AVAILABLE_SCORERS[name] = factory
        return factory

    return deco


@register_scorer("stub")
def _stub_scorer(model_name: Optional[str] = None):
    """Deterministic test scorer (FIXTURES.md §3): no model download.
    score = -|len(text) - len(query)| — higher when lengths are closer."""

    def score(query: pd.Series, text: pd.Series) -> pd.Series:
        return -(text.str.len() - query.str.len()).abs().astype("float64")

    return score


@register_scorer("overlap")
def _overlap_scorer(model_name: Optional[str] = None):
    """Lexical-overlap scorer: |query_terms ∩ doc_terms| / |query_terms|.

    Batch-vectorized over rows (this is the gated scorer inside the
    oracle-checked two_stage_rank pipeline, so it runs hot): only the
    batch's query tokens are tested, never every doc token. Each
    distinct query is tokenized under the frozen spec (findall-form,
    FIXTURES.md §4); each of its tokens is then searched, with RE2, in
    the lowered texts of that query's rows (one zero-copy slice once the
    rows are grouped by query) as ``tok`` with a non-token character or
    the text's start before it and one or the end after it. A token so
    bounded in the lowered text is exactly a doc token of at most
    MAX_TOKEN_LEN chars, so the counts equal the set intersection, and
    integer-count division keeps the scores bit-identical to the
    set-based form (tests/test_model_families.py pins the values;
    tests/test_overlap_kernel.py holds the kernel to tokenize_py
    sets)."""
    import re

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from rerankers_spark.functions.tokenize import (
        MAX_TOKEN_LEN,
        TOKEN_FINDALL_RE,
        TOKEN_SPLIT_RE,
    )

    findall = re.compile(TOKEN_FINDALL_RE).findall
    edge = TOKEN_SPLIT_RE.removesuffix("+")  # one non-token character

    def _utf8(s: pd.Series) -> pa.Array:
        try:
            arr = pa.array(s, type=pa.string())
        except (UnicodeEncodeError, pa.ArrowInvalid):
            # lone surrogates (only the driver API can pass them) have no
            # UTF-8 form; they are not token characters, so a space in
            # their place splits the same way
            arr = pa.array(s.str.replace("[\ud800-\udfff]", " ",
                                         regex=True), type=pa.string())
        return pc.fill_null(arr, "")

    def score(query: pd.Series, text: pd.Series) -> pd.Series:
        n = len(query)
        codes, uniq = pd.factorize(query.to_numpy(dtype=object),
                                   use_na_sentinel=False)
        order = np.argsort(codes, kind="stable")
        bounds = np.searchsorted(codes[order], np.arange(len(uniq) + 1))
        n_q = np.zeros(len(uniq), dtype=np.float64)
        n_common = np.zeros(n, dtype=np.float64)
        low = None
        for qi, q in enumerate(uniq):
            toks = {t for t in findall(q.lower() if isinstance(q, str)
                                       else "") if len(t) <= MAX_TOKEN_LEN}
            n_q[qi] = len(toks)
            if not toks:
                continue
            if low is None:
                # Python's full case mapping: İ → i + U+0307 and the
                # Kelvin sign → k reach the token alphabet
                low = _utf8(text.str.lower())
                low = low.take(order) if len(uniq) > 1 else low
            lo, hi = bounds[qi], bounds[qi + 1]
            rows_q = low.slice(lo, hi - lo)
            for tok in toks:
                hit = pc.match_substring_regex(
                    rows_q, f"(?:^|{edge}){tok}(?:{edge}|$)")
                n_common[order[lo:hi]] += hit.to_numpy(zero_copy_only=False)
        n_q = n_q[codes]
        out = np.divide(n_common, n_q, out=np.zeros(n, dtype=np.float64),
                        where=n_q > 0)
        return pd.Series(out, dtype="float64")

    return score


@register_scorer("cross-encoder")
def _cross_encoder_scorer(model_name: Optional[str] = None):
    """Real cross-encoder (reference models/transformer_ranker.py:57-103).
    Requires torch+transformers on executors; loads once per worker."""
    try:
        import torch  # noqa: F401
        from transformers import (  # noqa: F401
            AutoModelForSequenceClassification,
            AutoTokenizer,
        )
    except ImportError as e:  # pragma: no cover - sandbox has no torch
        raise ImportError(
            "cross-encoder scorer needs torch+transformers; use scorer="
            "'stub'/'overlap' in environments without them"
        ) from e

    model_name = model_name or "mixedbread-ai/mxbai-rerank-base-v1"
    tok = AutoTokenizer.from_pretrained(model_name)
    model = AutoModelForSequenceClassification.from_pretrained(model_name)
    model.eval()

    def score(query: pd.Series, text: pd.Series) -> pd.Series:  # pragma: no cover
        import torch

        with torch.inference_mode():
            inputs = tok(
                list(zip(query.tolist(), text.tolist())),
                padding=True,
                truncation=True,
                return_tensors="pt",
                max_length=512,
            )
            logits = model(**inputs).logits
            if logits.shape[1] == 1:
                vals = logits.squeeze(-1)
            else:
                # monobert diff — reference transformer_ranker.py:86
                vals = logits[:, 1] - logits[:, 0]
            return pd.Series(vals.float().cpu().numpy(), dtype="float64")

    return score


@register_scorer("t5")
def _t5_scorer(model_name: Optional[str] = None):
    """Pointwise T5 scorer (reference models/t5ranker.py:187-296): format
    'Query: ... Document: ... Relevant:', one greedy decode step, softmax
    over the [false, true] token logits → P(true). Score extraction is
    model_math.t5_scores (tested offline); torch only runs the forward."""
    try:
        import torch  # noqa: F401
        from transformers import AutoModelForSeq2SeqLM, AutoTokenizer
    except ImportError as e:  # pragma: no cover - sandbox has no torch
        raise ImportError(
            "t5 scorer needs torch+transformers; use scorer='stub'/"
            "'overlap' in environments without them"
        ) from e

    from rerankers_spark.rerank import model_math as mm

    model_name = model_name or "unicamp-dl/InRanker-base"
    tok = AutoTokenizer.from_pretrained(model_name)
    model = AutoModelForSeq2SeqLM.from_pretrained(model_name)
    model.eval()
    token_false, token_true = mm.get_output_tokens(model_name)
    false_id = token_false if isinstance(token_false, int) \
        else tok.convert_tokens_to_ids(token_false)
    true_id = token_true if isinstance(token_true, int) \
        else tok.convert_tokens_to_ids(token_true)

    def score(query: pd.Series, text: pd.Series) -> pd.Series:  # pragma: no cover
        import torch

        prompts = [
            mm.T5_INPUTS_TEMPLATE.format(query=q, text=t)
            for q, t in zip(query, text)
        ]
        with torch.inference_mode():
            enc = tok(prompts, padding=True, truncation="longest_first",
                      return_tensors="pt", max_length=512)
            # single greedy decode step (reference _greedy_decode,
            # t5ranker.py:253-296, length=1, return_last_logits)
            dec = torch.full(
                (enc["input_ids"].size(0), 1),
                model.config.decoder_start_token_id, dtype=torch.long)
            logits = model(
                input_ids=enc["input_ids"],
                attention_mask=enc["attention_mask"],
                decoder_input_ids=dec,
            ).logits[:, -1, :]
            fl = logits[:, false_id].float().cpu().numpy()
            tl = logits[:, true_id].float().cpu().numpy()
        return pd.Series(mm.t5_scores(fl, tl), dtype="float64")

    return score


@register_scorer("colbert")
def _colbert_scorer(model_name: Optional[str] = None):
    """ColBERT late-interaction scorer (reference models/
    colbert_ranker.py:196-213, 280-325): encode query with dynamic
    MASK-augmented length, docs with batch-dynamic max length, normalize
    token embeddings, MaxSim. The interaction math is
    model_math.colbert_maxsim / colbert_query_length /
    colbert_doc_max_length (tested offline); torch only embeds."""
    try:
        import torch  # noqa: F401
        from transformers import AutoModel, AutoTokenizer
    except ImportError as e:  # pragma: no cover - sandbox has no torch
        raise ImportError(
            "colbert scorer needs torch+transformers; use scorer='stub'/"
            "'overlap' in environments without them"
        ) from e

    from rerankers_spark.rerank import model_math as mm

    model_name = model_name or "colbert-ir/colbertv2.0"
    tok = AutoTokenizer.from_pretrained(model_name)
    model = AutoModel.from_pretrained(model_name)
    model.eval()
    query_token_id = tok.convert_tokens_to_ids("[unused0]")
    doc_token_id = tok.convert_tokens_to_ids("[unused1]")

    def _embed(texts, marker_id, is_query):  # pragma: no cover
        import torch

        enc = tok(texts, return_tensors="pt", padding=True,
                  truncation=True, max_length=511)
        ids = torch.cat(
            [enc["input_ids"][:, :1],
             torch.full((len(texts), 1), marker_id, dtype=torch.long),
             enc["input_ids"][:, 1:]], dim=1)
        mask = torch.cat(
            [enc["attention_mask"][:, :1],
             torch.ones(len(texts), 1, dtype=torch.long),
             enc["attention_mask"][:, 1:]], dim=1)
        if is_query:
            # MASK-augment each query to its dynamic QLEN
            # (reference colbert_ranker.py:140-171)
            qlen = mm.colbert_query_length(int(mask.sum(1).max()))
            pad = qlen - ids.size(1)
            if pad > 0:
                ids = torch.nn.functional.pad(
                    ids, (0, pad), value=tok.mask_token_id)
                mask = torch.nn.functional.pad(mask, (0, pad), value=0)
        # micro-batched encode + L2 normalize (reference _to_embs,
        # colbert_ranker.py:384-396)
        batch_size = 32
        with torch.inference_mode():
            parts = [
                model(input_ids=ids[i:i + batch_size],
                      attention_mask=mask[i:i + batch_size])
                .last_hidden_state
                for i in range(0, ids.size(0), batch_size)
            ]
            embs = torch.cat(parts, dim=0)
        embs = embs / embs.norm(dim=-1, keepdim=True)
        return embs.float().cpu().numpy(), mask.cpu().numpy()

    def score(query: pd.Series, text: pd.Series) -> pd.Series:  # pragma: no cover
        import numpy as np

        out = np.zeros(len(query), dtype=np.float64)
        qarr = query.to_numpy()
        for q in pd.unique(query):
            sel = np.nonzero(qarr == q)[0]
            q_reps, q_mask = _embed([str(q)], query_token_id, True)
            p_reps, p_mask = _embed(
                [str(t) for t in text.iloc[sel]], doc_token_id, False)
            out[sel] = mm.colbert_maxsim(q_reps, p_reps, q_mask, p_mask)[0]
        return pd.Series(out, dtype="float64")

    return score


@register_scorer("llm-layerwise")
def _llm_layerwise_scorer(model_name: Optional[str] = None):
    """Layerwise-LLM scorer (reference models/llm_layerwise_ranker.py:
    28-183): 'A: {query}' / 'B: {passage}' assembly with the 3/4 query
    budget + only-second truncation (model_math.layerwise_prepare_ids,
    exact port of _get_inputs), right-side multiple-of-8 padding,
    cutoff-layer params from the reference DEFAULT_PARAMS table, score
    = last token of the last requested layer
    (model_math.layerwise_scores)."""
    try:
        import torch  # noqa: F401
        from transformers import AutoModelForCausalLM, AutoTokenizer
    except ImportError as e:  # pragma: no cover
        raise ImportError(
            "llm-layerwise scorer needs torch+transformers; use scorer="
            "'stub'/'overlap' in environments without them"
        ) from e

    from rerankers_spark.rerank import model_math as mm

    model_name = model_name or "BAAI/bge-reranker-v2.5-gemma2-lightweight"
    tok = AutoTokenizer.from_pretrained(model_name,
                                        trust_remote_code=True)
    model = AutoModelForCausalLM.from_pretrained(model_name,
                                                 trust_remote_code=True)
    model.eval()
    params = mm.LAYERWISE_DEFAULT_PARAMS.get(
        model_name, mm.LAYERWISE_DEFAULT_PARAMS["default"])
    max_seq = 512

    def _tok(s, ml=None):
        return tok(s, add_special_tokens=False, truncation=ml is not None,
                   max_length=ml)["input_ids"]

    def score(query: pd.Series, text: pd.Series) -> pd.Series:  # pragma: no cover
        import torch

        seqs = [
            mm.layerwise_prepare_ids(_tok, q, t, tok.bos_token_id,
                                     max_sequence_length=max_seq)
            for q, t in zip(query, text)
        ]
        sep_n = len(_tok("\n"))
        prompt_n = len(_tok(mm.LAYERWISE_PROMPT))
        ids, mask = mm.pad_token_batch(
            seqs, tok.pad_token_id, padding_side="right",
            pad_to_multiple_of=8, max_length=max_seq + sep_n + prompt_n)
        with torch.inference_mode():
            outputs = model(
                input_ids=torch.from_numpy(ids),
                attention_mask=torch.from_numpy(mask),
                return_dict=True, **params)
            per_layer = [s.float().cpu().numpy() for s in outputs[0]]
        return pd.Series(mm.layerwise_scores(per_layer), dtype="float64")

    return score


@register_scorer("upr")
def _upr_scorer(model_name: Optional[str] = None):
    """UPR query-likelihood scorer (reference models/upr.py:108-175):
    'Passage: {text}. Please write a question based on this passage.' →
    sum of gold query-token log-probs (model_math.upr_scores)."""
    try:
        import torch  # noqa: F401
        from transformers import AutoModelForSeq2SeqLM, AutoTokenizer
    except ImportError as e:  # pragma: no cover
        raise ImportError(
            "upr scorer needs torch+transformers; use scorer='stub'/"
            "'overlap' in environments without them"
        ) from e

    from rerankers_spark.rerank import model_math as mm

    model_name = model_name or "google/t5-large-lm-adapt"
    tok = AutoTokenizer.from_pretrained(model_name)
    model = AutoModelForSeq2SeqLM.from_pretrained(model_name)
    model.eval()

    def score(query: pd.Series, text: pd.Series) -> pd.Series:  # pragma: no cover
        import torch

        prompts = [
            f"Passage: {t}. Please write a question based on this passage."
            for t in text
        ]
        with torch.inference_mode():
            enc = tok(prompts, padding=True, truncation=True,
                      max_length=512, return_tensors="pt")
            dec = tok(list(query), padding=True, truncation=True,
                      max_length=128, return_tensors="pt")
            logits = model(input_ids=enc.input_ids,
                           attention_mask=enc.attention_mask,
                           labels=dec.input_ids).logits
            log_probs = torch.nn.functional.log_softmax(logits, dim=-1)
            tlp = log_probs.gather(
                -1, dec.input_ids.unsqueeze(-1)).squeeze(-1)
        return pd.Series(mm.upr_scores(tlp.float().cpu().numpy()),
                         dtype="float64")

    return score


@register_scorer("mxbaiv2")
def _mxbai_v2_scorer(model_name: Optional[str] = None):
    """MxBai rerank v2 scorer at FULL reference prompt parity: the
    pre-tokenized Qwen chat-template segments, the query ≤3/4 and doc
    ≤1/4 token budgets, only-second pair truncation, and left-side
    multiple-of-8 padding are all model_math.mxbai_v2_prepare_ids /
    pad_token_batch (exact ports of reference mxbai_v2.py:186-320,
    offline-tested); score = pos-token logit minus neg-token logit at
    the final position (model_math.mxbai_v2_scores, mxbai_v2.py:355-356).
    """
    try:
        import torch  # noqa: F401
        from transformers import (  # noqa: F401
            AutoConfig,
            AutoModelForCausalLM,
            AutoTokenizer,
        )
    except ImportError as e:  # pragma: no cover
        raise ImportError(
            "mxbaiv2 scorer needs torch+transformers; use scorer='stub'/"
            "'overlap' in environments without them"
        ) from e

    from rerankers_spark.rerank import model_math as mm

    model_name = model_name or "mixedbread-ai/mxbai-rerank-base-v2"
    cfg = AutoConfig.from_pretrained(model_name)
    tok = AutoTokenizer.from_pretrained(model_name)
    tok.padding_side = "left"
    model = AutoModelForCausalLM.from_pretrained(model_name)
    model.eval()
    max_length = 8192
    model_max_length = int(cfg.max_position_embeddings)

    def _tok(s, ml=None):
        return tok(s, add_special_tokens=False, truncation=ml is not None,
                   max_length=ml)["input_ids"]

    static = mm.mxbai_v2_static_ids(_tok)
    _, padding_length = mm.mxbai_v2_effective_lengths(
        max_length, static["static_len"], model_max_length)

    def score(query: pd.Series, text: pd.Series) -> pd.Series:  # pragma: no cover
        import torch

        seqs = [
            mm.mxbai_v2_prepare_ids(
                _tok, q, t, max_length=max_length,
                model_max_length=model_max_length, static=static)
            for q, t in zip(query, text)
        ]
        ids, mask = mm.pad_token_batch(
            seqs, tok.pad_token_id, padding_side="left",
            pad_to_multiple_of=8, max_length=padding_length)
        with torch.inference_mode():
            logits = model(
                input_ids=torch.from_numpy(ids),
                attention_mask=torch.from_numpy(mask),
            ).logits[:, -1, :].float().cpu().numpy()
        return pd.Series(
            mm.mxbai_v2_scores(logits, static["pos_id"],
                               static["neg_id"]),
            dtype="float64")

    return score


@register_scorer("pylate")
def _pylate_scorer(model_name: Optional[str] = None):
    """PyLate multi-vector scorer family (reference models/
    pylate_ranker.py:12-71): pylate's ColBERT encoder + rank.rerank,
    scores normalized by the query token count
    (model_math.pylate_normalize). Gated on the pylate package; the
    normalization + result mapping is the offline-tested part."""
    try:
        from pylate import models, rank
    except ImportError as e:  # pragma: no cover
        raise ImportError(
            "pylate scorer needs the pylate package; use scorer='colbert' "
            "(same late-interaction math) or 'stub'/'overlap'"
        ) from e

    from rerankers_spark.rerank import model_math as mm

    model = models.ColBERT(  # pragma: no cover
        model_name_or_path=model_name or
        "lightonai/GTE-ModernColBERT-v1")

    def score(query: pd.Series, text: pd.Series) -> pd.Series:  # pragma: no cover
        import numpy as np

        out = np.zeros(len(query), dtype=np.float64)
        # one encode per distinct query in the batch (reference ranks
        # per query; the batch UDF sees mixed queries)
        for q in query.unique():
            sel = (query == q).to_numpy().nonzero()[0]
            docs = [str(t) for t in text.iloc[sel]]
            doc_embs = model.encode([docs], is_query=False)
            q_embs = model.encode([str(q)], is_query=True)
            ranked = rank.rerank(
                documents_ids=[list(range(len(docs)))],
                queries_embeddings=q_embs,
                documents_embeddings=doc_embs,
            )
            raw = np.empty(len(docs), dtype=np.float64)
            for entry in ranked[0]:
                raw[int(entry["id"])] = float(entry["score"])
            out[sel] = mm.pylate_normalize(raw, len(q_embs[0]))
        return pd.Series(out, dtype="float64")

    return score


@register_scorer("monovlm")
def _monovlm_scorer(model_name: Optional[str] = None):
    """MonoVLM image scorer (reference models/monovlm_ranker.py:93-143):
    per-image Qwen2-VL chat prompt ('answer True or False'), one forward
    pass, softmax over the [False, True] token logits → P(True). The
    prompt template, token resolution and score extraction live in
    model_math (MONOVLM_PROMPT_TEMPLATE / monovlm_output_tokens /
    monovlm_scores — tested offline); torch+PIL only run the forward.

    The ``text`` series carries BASE64 IMAGE PAYLOADS (Document.base64;
    Reranker.rank routes image docs here, and the distributed path is
    rank_df over an image-b64 column from multimodal.image_docs_to_df)."""
    try:
        import torch  # noqa: F401
        from PIL import Image  # noqa: F401
        from transformers import (  # noqa: F401
            AutoProcessor,
            Qwen2VLForConditionalGeneration,
        )
    except ImportError as e:  # pragma: no cover - sandbox has no torch/PIL
        raise ImportError(
            "monovlm scorer needs torch+PIL+transformers (Qwen2-VL); "
            "without them use scorer='stub'/'overlap' for text, or "
            "sources/multimodal.py for the binary-column image pipeline"
        ) from e

    from rerankers_spark.rerank import model_math as mm

    model_name = model_name or "lightonai/MonoQwen2-VL-v0.1"
    # reference monovlm_ranker.py:70: processor defaults to the base
    # Qwen2-VL checkpoint, model to the reranker fine-tune
    processor = AutoProcessor.from_pretrained("Qwen/Qwen2-VL-2B-Instruct")
    model = Qwen2VLForConditionalGeneration.from_pretrained(model_name)
    model.eval()
    token_false, token_true = mm.monovlm_output_tokens(model_name)
    false_id = processor.tokenizer.convert_tokens_to_ids(token_false)
    true_id = processor.tokenizer.convert_tokens_to_ids(token_true)

    def score(query: pd.Series, text: pd.Series) -> pd.Series:  # pragma: no cover
        import base64 as b64mod
        import io

        import numpy as np
        import torch
        from PIL import Image

        fl = np.empty(len(text), dtype=np.float64)
        tl = np.empty(len(text), dtype=np.float64)
        with torch.inference_mode():
            # batch_size=1 per image, like the reference (the VLM input
            # is image-dominated; Arrow batching amortizes the overhead)
            for i, (q, b64) in enumerate(zip(query, text)):
                image = Image.open(
                    io.BytesIO(b64mod.b64decode(b64))).convert("RGB")
                prompt = mm.MONOVLM_PROMPT_TEMPLATE.format(query=q)
                messages = [{
                    "role": "user",
                    "content": [
                        {"type": "image", "image": image},
                        {"type": "text", "text": prompt},
                    ],
                }]
                chat = processor.apply_chat_template(
                    messages, tokenize=False, add_generation_prompt=True)
                inputs = processor(text=chat, images=image,
                                   return_tensors="pt")
                logits = model(**inputs).logits[:, -1, :]
                fl[i] = float(logits[0, false_id])
                tl[i] = float(logits[0, true_id])
        return pd.Series(mm.monovlm_scores(fl, tl), dtype="float64")

    return score


# Model-family × lang → concrete default — full port of the reference's
# DEFAULTS table (reranker.py:7-52), plus the in-sandbox test families.
DEFAULTS: dict[str, dict[str, str]] = {
    "stub": {"en": "stub", "other": "stub"},
    "overlap": {"en": "overlap", "other": "overlap"},
    "jina": {"en": "jina-reranker-v1-base-en"},
    "isaacus": {"en": "kanon-universal-classifier"},
    "pinecone": {"en": "pinecone-rerank-v0"},
    "cohere": {"en": "rerank-english-v3.0",
               "other": "rerank-multilingual-v3.0"},
    "voyage": {"en": "rerank-lite-1"},
    "mixedbread.ai": {"en": "mixedbread-ai/mxbai-rerank-large-v1"},
    "cross-encoder": {
        "en": "mixedbread-ai/mxbai-rerank-base-v1",
        "fr": "antoinelouis/crossencoder-camembert-base-mmarcoFR",
        "zh": "BAAI/bge-reranker-base",
        "other": "corrius/cross-encoder-mmarco-mMiniLMv2-L12-H384-v1",
    },
    "t5": {"en": "unicamp-dl/InRanker-base",
           "other": "unicamp-dl/mt5-base-mmarco-v2"},
    "lit5": {"en": "castorini/LiT5-Distill-base"},
    "rankgpt": {"en": "gpt-4-turbo-preview", "other": "gpt-4-turbo-preview"},
    "rankgpt3": {"en": "gpt-3.5-turbo", "other": "gpt-3.5-turbo"},
    "rankgpt4": {"en": "gpt-4", "other": "gpt-4"},
    "rankllm": {"en": "rank_zephyr", "other": "rank_zephyr"},
    "colbert": {
        "en": "colbert-ir/colbertv2.0",
        "fr": "bclavie/FraColBERTv2",
        "ja": "bclavie/JaColBERTv2",
        "es": "AdrienB134/ColBERTv2.0-spanish-mmarcoES",
    },
    "flashrank": {"en": "ms-marco-MiniLM-L-12-v2",
                  "other": "ms-marco-MultiBERT-L-12"},
    "text-embeddings-inference": {"other": "BAAI/bge-reranker-base"},
    "llm-layerwise": {
        "en": "BAAI/bge-reranker-v2.5-gemma2-lightweight",
        "other": "BAAI/bge-reranker-v2.5-gemma2-lightweight",
    },
    "monovlm": {"en": "lightonai/MonoQwen2-VL-v0.1",
                "other": "lightonai/MonoQwen2-VL-v0.1"},
    "llm-relevance-filter": {"en": "gpt-4-turbo-preview",
                             "other": "gpt-4-turbo-preview"},
    "upr": {"en": "google/t5-large-lm-adapt"},
    "mxbaiv2": {"en": "mixedbread-ai/mxbai-rerank-base-v2"},
    "pylate": {"en": "lightonai/GTE-ModernColBERT-v1",
               "other": "lightonai/GTE-ModernColBERT-v1"},
}


def get_defaults(family: str, lang: str = "en") -> str:
    """Family+lang → concrete model name (reference reranker.py:171-194:
    unknown lang falls back to the 'other' entry; a family with no
    'other' raises where the reference prints-and-returns-None)."""
    table = DEFAULTS[family]
    if lang in table:
        return table[lang]
    if "other" not in table:
        raise ValueError(
            f"model family {family!r} has no default for language "
            f"{lang!r} and no 'other' fallback"
        )
    return table["other"]


# Keyword → scorer-type mapping, port of reference reranker.py:117-145
# (substring match in order; first hit wins). 'rerank' stays LAST so the
# v2 mxbai ids and provider names match their own entries first.
_MODEL_TYPE_KEYWORDS = [
    ("stub", "stub"),
    ("overlap", "overlap"),
    ("lit5", "listwise"),
    ("t5", "t5"),
    ("inranker", "t5"),
    ("rankllm", "listwise"),
    ("rankgpt", "listwise"),
    ("gpt", "listwise"),
    ("listwise", "listwise"),
    ("colbert", "colbert"),
    ("cross-encoder", "cross-encoder"),
    ("ms-marco-minilm-l-12-v2", "flashrank"),
    ("ms-marco-multibert-l-12", "flashrank"),
    ("flashrank", "flashrank"),
    ("vicuna", "listwise"),
    ("zephyr", "listwise"),
    ("bge-reranker-v2.5-gemma2-lightweight", "llm-layerwise"),
    ("llm-layerwise", "llm-layerwise"),
    ("monovlm", "monovlm"),
    ("monoqwen2-vl", "monovlm"),
    ("llm-relevance-filter", "llm-relevance-filter"),
    ("upr", "upr"),
    ("mxbaiv2", "mxbaiv2"),
    ("mxbai-rerank-base-v2", "mxbaiv2"),
    ("mxbai-rerank-large-v2", "mxbaiv2"),
    ("pylate", "pylate"),
    ("rerank", "cross-encoder"),
]


@register_scorer("flashrank")
def _flashrank_scorer(model_name: Optional[str] = None):
    """ONNX scorer family (reference models/flashrank_ranker.py:32-64):
    passages → RerankRequest → per-passage scores by request id. Gated:
    onnxruntime/flashrank are not in this sandbox, but the dispatch is
    real — with the package installed this loads and scores."""
    try:
        from flashrank import Ranker, RerankRequest
    except ImportError as e:  # pragma: no cover
        raise ImportError(
            "flashrank scorer needs the flashrank package; use "
            "scorer='stub'/'overlap' in environments without it"
        ) from e

    model = Ranker(model_name=model_name or "ms-marco-MiniLM-L-12-v2")

    def score(query: pd.Series, text: pd.Series) -> pd.Series:  # pragma: no cover
        import numpy as np

        out = np.zeros(len(query), dtype=np.float64)
        qarr = query.to_numpy()
        for q in pd.unique(query):
            sel = np.nonzero(qarr == q)[0]
            passages = [
                {"id": int(i), "text": str(text.iloc[i])} for i in sel
            ]
            # flashrank returns reranked order; map back by request id
            # (reference flashrank_ranker.py:44-54)
            for r in model.rerank(RerankRequest(query=str(q),
                                                passages=passages)):
                out[int(r["id"])] = float(r["score"])
        return pd.Series(out, dtype="float64")

    return score


#: substring-matched API providers (reference reranker.py:71)
PROVIDERS = ["cohere", "jina", "voyage", "mixedbread.ai", "pinecone",
             "isaacus", "text-embeddings-inference"]


def _get_api_provider(model_name: str,
                      model_type: Optional[str] = None) -> Optional[str]:
    """Provider detection, port of reference reranker.py:73-90: an
    explicit non-provider model_type suppresses detection; otherwise the
    explicit provider type wins, then a provider substring in the model
    name, then a DEFAULTS family whose default names embed a provider."""
    if model_type is not None and model_type not in PROVIDERS:
        return None
    if model_type in PROVIDERS:
        return model_type
    for p in PROVIDERS:
        if p in model_name:
            return p
    if model_name in DEFAULTS:
        for p in PROVIDERS:
            if any(p in v for v in DEFAULTS[model_name].values()):
                return p
    return None


@register_scorer("api")
def _api_scorer(model_name: Optional[str] = None):
    """Legacy registry gate: prefer get_reranker(), which returns a full
    rerank.api.APIRanker (payload/parse logic, injectable transport)."""
    raise ImportError(
        "API scorers need network access (cohere/jina/voyage/...); "
        "construct rerankers_spark.rerank.api.APIRanker directly (it "
        "accepts an offline transport) or use a local scorer"
    )


def get_reranker(model_name: str = "stub", model_type: Optional[str] = None,
                 lang: str = "en", verbose: int = 1, **kw):
    """Unified factory, port of the reference Reranker() function
    (reranker.py:196-247): API providers → APIRanker, listwise names →
    ListwiseReranker, llm-relevance-filter → LLMRelevanceFilter,
    everything else → the pointwise Reranker."""
    original = model_name
    api_provider = _get_api_provider(model_name, model_type)
    if api_provider or model_name.lower() in PROVIDERS:
        if model_name.lower() in PROVIDERS:
            # bare provider name → provider's default model
            # (reference reranker.py:206-218)
            api_provider = model_name.lower()
            model_name = get_defaults(api_provider, lang)
    elif original in DEFAULTS:
        model_name = get_defaults(original, lang)
        api_provider = _get_api_provider(model_name, model_type)
    if api_provider:
        from rerankers_spark.rerank.api import APIRanker

        return APIRanker(model_name, api_key=kw.pop("api_key", ""),
                         api_provider=api_provider, verbose=verbose, **kw)
    mtype = _get_model_type(model_name, model_type)
    if mtype == "listwise":
        from rerankers_spark.rerank.listwise import ListwiseReranker

        return ListwiseReranker(**kw)
    if mtype == "llm-relevance-filter":
        from rerankers_spark.rerank.relevance_filter import (
            LLMRelevanceFilter,
        )

        return LLMRelevanceFilter(model_name, verbose=verbose, **kw)
    return Reranker(model_name, model_type=mtype, lang=lang,
                    verbose=verbose, **kw)


def _get_model_type(model_name: str, explicit: Optional[str]) -> str:
    if explicit is not None:
        return explicit
    lowered = model_name.lower()
    for kw, mtype in _MODEL_TYPE_KEYWORDS:
        if kw in lowered:
            return mtype
    warnings.warn(
        f"Could not infer model type from {model_name!r}; defaulting to "
        "'cross-encoder' (reference fallback: reranker.py:162-169)"
    )
    return "cross-encoder"


# ---------------------------------------------------------------------------
# prep_docs — reference utils.py:68-120 semantics
# ---------------------------------------------------------------------------

DocsInput = Union[str, Document, Sequence[Union[str, Document]]]


def prep_docs(
    docs: DocsInput,
    doc_ids: Optional[Sequence[Union[str, int]]] = None,
    metadata: Optional[Sequence[dict]] = None,
) -> List[Document]:
    if isinstance(docs, (str, Document)):
        docs = [docs]
    out: List[Document] = []
    for d in docs:
        out.append(d if isinstance(d, Document) else Document(text=d))
    if doc_ids is not None:
        if len(doc_ids) != len(out):
            raise ValueError("doc_ids length must match docs length")
        if any(d.doc_id is not None for d in out):
            # reference utils.py:78-88: explicit ids override with warning
            warnings.warn(
                "explicit doc_ids override ids set on Document objects"
            )
        for d, i in zip(out, doc_ids):
            d.doc_id = i
    else:
        # positional autogeneration — reference utils.py:63-64, 110-120
        for pos, d in enumerate(out):
            if d.doc_id is None:
                d.doc_id = pos
    if metadata is not None:
        if len(metadata) != len(out):
            raise ValueError("metadata length must match docs length")
        for d, m in zip(out, metadata):
            d.metadata = m
    return out


def _looks_like_image(data: bytes) -> bool:
    """PIL verify when available; magic-byte check otherwise (PIL is not
    in this sandbox — the fallback keeps prep_image_docs' base64-vs-path
    classification deterministic and testable)."""
    try:
        import io

        from PIL import Image

        try:
            Image.open(io.BytesIO(data)).verify()
            return True
        except Exception:
            return False
    except ImportError:
        return data.startswith(
            (b"\x89PNG", b"\xff\xd8\xff", b"GIF8", b"RIFF", b"BM"))


def prep_image_docs(
    docs: DocsInput,
    doc_ids: Optional[Sequence[Union[str, int]]] = None,
    metadata: Optional[Sequence[dict]] = None,
) -> List[Document]:
    """Image-document preparation (reference utils.py:123-189): Document
    inputs must already be image-typed; string inputs are classified as
    base64 (decodes AND verifies as an image) or a file path (read and
    base64-encoded); ids/metadata assigned positionally."""
    import base64 as b64mod
    import binascii

    if isinstance(docs, Document) or (
        isinstance(docs, (list, tuple)) and docs
        and isinstance(docs[0], Document)
    ):
        if isinstance(docs, Document):
            docs = [docs]
        for d in docs:
            if d.document_type != "image":
                raise ValueError("All documents must be of type 'image'")
        return prep_docs(docs, doc_ids, metadata)

    if isinstance(docs, str):
        docs = [docs]
    processed: List[Document] = []
    for doc in docs:
        try:
            decoded = b64mod.b64decode(doc, validate=True)
            if not _looks_like_image(decoded):
                raise binascii.Error("Invalid image data")
            b64, image_path = doc, None
        except (binascii.Error, ValueError):
            try:
                image_path = doc
                with open(doc, "rb") as img_file:
                    b64 = b64mod.b64encode(img_file.read()).decode("utf-8")
            except Exception as e:
                raise ValueError(
                    f"Could not process image input {doc}: {e}") from e
        processed.append(
            Document(document_type="image", base64=b64,
                     image_path=image_path))

    ids = doc_ids if doc_ids is not None else list(range(len(processed)))
    metas = metadata if metadata is not None else [{} for _ in processed]
    for d, i, m in zip(processed, ids, metas):
        d.doc_id = i
        d.metadata = m
    return processed


# ---------------------------------------------------------------------------
# rank_df's task body
# ---------------------------------------------------------------------------


def _frozen_order(tbl, partition_cols: Sequence[str],
                  id_col: str = "doc_id"):
    """(row order, rank) of ``tbl``'s rows: grouped by the partition
    columns, then score desc with NULL last (a NaN score arrives as
    NULL), then id asc with NULL first — the row_number window of
    operators/topk.py. Ranks are dense codes, so any column type sorts
    as Arrow (and Spark) order it."""
    import numpy as np
    import pyarrow.compute as pc

    def codes(col, order, nulls):
        return pc.rank(col, sort_keys=order, null_placement=nulls,
                       tiebreaker="dense").to_numpy()

    groups = [codes(tbl.column(c), "ascending", "at_start")
              for c in partition_cols]
    keys = [codes(tbl.column(id_col), "ascending", "at_start"),
            codes(tbl.column("score"), "descending", "at_end")]
    order = np.lexsort(keys + groups[::-1])
    start = np.zeros(len(order), dtype=bool)  # a group's first row
    start[:1] = True
    for g in groups:
        g = g[order]
        start[1:] |= g[1:] != g[:-1]
    first = np.flatnonzero(start)
    rank = np.arange(len(order)) - first[np.cumsum(start) - 1] + 1
    return order, rank.astype(np.int32)


def _tail_start(tbl, partition_cols: Sequence[str]) -> int:
    """First row of the last group of ``tbl``, whose rows arrive sorted
    by the partition columns: every row before it is in a whole group."""
    import numpy as np
    import pyarrow.compute as pc

    last = np.ones(tbl.num_rows, dtype=bool)
    for c in partition_cols:
        g = pc.rank(tbl.column(c), null_placement="at_start",
                    tiebreaker="dense").to_numpy()
        last &= g == g[-1]
    return int(np.flatnonzero(~last)[-1]) + 1 if not last.all() else 0


def _score_and_cut(factory: Callable, partition_cols: Sequence[str],
                   query_col: str, text_col: str, k: Optional[int],
                   query_text: Optional[Mapping]):
    """rank_df's mapInArrow body over one task's Arrow batches.

    Scored batches gather until they hold more than twice the rows of
    the last cut (at least one batch), so the sorts over a task add up
    to O(n log n). A cut keeps each group's top k; with k None the
    input is sorted by the partition columns and a cut emits every
    whole group. Either way a task holds at most about twice its
    groups × k rows, or its largest group, plus a batch."""

    def ranked(tbl):
        order, rank = _frozen_order(tbl, partition_cols)
        if k is not None:
            order, rank = order[rank <= k], rank[rank <= k]
        return tbl.take(order), rank

    def emit(tbl):
        import pyarrow as pa

        tbl, rank = ranked(tbl)
        return _put(tbl, "rank", pa.array(rank, type=pa.int32())).to_batches()

    def task(batches):
        import numpy as np
        import pyarrow as pa

        fn = None
        kept, n_kept, n_cut = [], 0, 0
        for b in batches:
            if b.num_rows == 0:
                continue
            if fn is None:
                fn = factory()
            text = b.column(text_col).to_pandas()
            if query_text is None:
                query = b.column(query_col).to_pandas()
            else:
                query = b.column(partition_cols[0]).to_pandas().map(
                    query_text)
            score = pa.array(np.asarray(fn(query, text), dtype=np.float64),
                             from_pandas=True)
            kept.append(_put(pa.Table.from_batches([b]), "score", score))
            n_kept += b.num_rows
            if n_kept <= 2 * max(n_cut, b.num_rows):
                continue
            tbl = pa.concat_tables(kept)
            if k is None:
                done = _tail_start(tbl, partition_cols)
                if done:
                    yield from emit(tbl.slice(0, done))
                    tbl = tbl.slice(done)
            else:
                tbl = ranked(tbl)[0]
            kept, n_kept = [tbl], tbl.num_rows
            n_cut = n_kept
        if kept:
            yield from emit(pa.concat_tables(kept))

    return task


def _put(tbl, name: str, values):
    """withColumn on an Arrow table: replace ``name`` in place, or
    append it."""
    i = tbl.schema.get_field_index(name)
    return (tbl.append_column(name, values) if i < 0
            else tbl.set_column(i, name, values))


# ---------------------------------------------------------------------------
# Reranker
# ---------------------------------------------------------------------------


class Reranker:
    """Unified reranker (reference rerankers/reranker.py:196-247).

    ``Reranker("stub")`` / ``Reranker("overlap")`` are dependency-free;
    model-backed names resolve to the cross-encoder scorer family.
    """

    def __init__(
        self,
        model_name: str = "stub",
        model_type: Optional[str] = None,
        lang: str = "en",
        spark: Optional[SparkSession] = None,
        verbose: int = 1,
    ) -> None:
        if model_name in DEFAULTS:
            # family name → lang-specific default (reference reranker.py:223)
            model_name = get_defaults(model_name, lang)
        self.model_name = model_name
        self.model_type = _get_model_type(model_name, model_type)
        if self.model_type not in AVAILABLE_SCORERS:
            raise KeyError(
                f"unknown scorer {self.model_type!r}; available: "
                f"{sorted(AVAILABLE_SCORERS)}"
            )
        from functools import partial

        # bind the checkpoint name now; factory() stays zero-arg for the
        # task closure (model-backed families load it per executor task)
        self._factory = partial(AVAILABLE_SCORERS[self.model_type],
                                self.model_name)
        self._spark = spark
        self.verbose = verbose

    # -- distributed path ---------------------------------------------------

    def rank_df(
        self,
        candidates: DataFrame,
        query_col: str = "query",
        text_col: str = "text",
        partition_cols: Sequence[str] = ("query_id",),
        k: Optional[int] = None,
        query_text: Optional[Mapping] = None,
    ) -> DataFrame:
        """DataFrame[..., query, text] → + (score, rank) per group of
        ``partition_cols``, keeping the rows with rank ≤ ``k`` (every
        row when k is None). This is the hot path of stage two
        (SURVEY.md §2C.11).

        One exchange on the partition columns, then one Arrow map task
        body (_score_and_cut): it builds the scorer once per task (the
        Spark analog of the reference's per-process model load,
        transformer_ranker.py:35-39), scores each Arrow batch, and emits
        each group's rows in the frozen order (FIXTURES.md §4) — score
        desc with NULL/NaN last, then doc_id asc — which is what
        ``row_number() OVER (PARTITION BY .. ORDER BY score DESC,
        doc_id ASC)`` assigns. With k None each task's rows are first
        sorted by the partition columns, so whole groups leave the task
        as they complete. A score or rank column already in
        ``candidates`` is replaced in place, as withColumn replaces it.

        query_text: optional {partition key: query} map that rides in
        the task closure in place of ``query_col`` (one partition
        column); Engine.rank passes its local query plan's texts."""
        parts = list(partition_cols)
        if query_text is not None and len(parts) != 1:
            raise ValueError("query_text needs exactly one partition column")
        fields = list(candidates.schema.fields)
        for field in (StructField("score", DoubleType()),
                      StructField("rank", IntegerType())):
            names = [f.name for f in fields]
            if field.name in names:
                fields[names.index(field.name)] = field
            else:
                fields.append(field)
        body = _score_and_cut(self._factory, parts, query_col, text_col,
                              k, query_text)
        parted = candidates.repartition(*parts)
        if k is None:
            # whole groups stream out of the task in sorted input; the
            # sort spills where a task's rows outgrow memory
            parted = parted.sortWithinPartitions(*parts)
        return parted.mapInArrow(body, StructType(fields))

    # -- reference-compatible driver API -------------------------------------

    def rank(
        self,
        query: str,
        docs: DocsInput,
        doc_ids: Optional[Sequence[Union[str, int]]] = None,
        metadata: Optional[Sequence[dict]] = None,
    ) -> RankedResults:
        if self.model_type == "monovlm":
            # reference monovlm_ranker.py:145-159: image-doc prep, the
            # scorer consumes base64 payloads instead of text
            prepped = prep_image_docs(docs, doc_ids, metadata)
            scores = self._score_pairs(
                query, [d.base64 for d in prepped])
        else:
            prepped = prep_docs(docs, doc_ids, metadata)
            scores = self._score_pairs(query, [d.text for d in prepped])
        if len(prepped) == 1:
            # single-doc special case: score, NO rank
            # (reference transformer_ranker.py:87-88)
            return RankedResults(
                [Result(document=prepped[0], score=scores[0])],
                query=query,
                has_scores=True,
            )
        # stable desc sort over passed order, rank = idx+1
        # (reference transformer_ranker.py:90-95)
        order = sorted(
            range(len(prepped)), key=lambda i: -scores[i]
        )  # python sort is stable → ties keep passed order
        results = [
            Result(document=prepped[i], score=scores[i], rank=pos + 1)
            for pos, i in enumerate(order)
        ]
        return RankedResults(results, query=query, has_scores=True)

    async def rank_async(self, query: str, docs: DocsInput, **kw) -> RankedResults:
        """reference models/ranker.py:30-39 — thread-pool wrapper."""
        import asyncio
        from functools import partial

        loop = asyncio.get_event_loop()
        return await loop.run_in_executor(
            None, partial(self.rank, query, docs, **kw)
        )

    def score(self, query: str, doc: Union[str, Document]) -> float:
        """Single-pair score (reference models/ranker.py:14-16)."""
        text = doc.text if isinstance(doc, Document) else doc
        return self._score_pairs(query, [text])[0]

    def _score_pairs(self, query: str, texts: Sequence[str]) -> List[float]:
        fn = self._factory()
        out = fn(
            pd.Series([query] * len(texts), dtype="object"),
            pd.Series(list(texts), dtype="object"),
        )
        return [float(x) for x in out]

    # langchain-compressor analog (reference integrations/langchain.py:13-33)
    def compress(self, query: str, docs: DocsInput, k: int = 3) -> List[Document]:
        ranked = self.rank(query, docs)
        out = []
        for r in ranked.top_k(k):
            r.document.metadata = dict(r.document.metadata or {})
            r.document.metadata["relevance_score"] = r.score
            out.append(r.document)
        return out
