"""Hashed char-trigram Naive-Bayes language-id model (VERDICT r5 #7,
breadth + engine-hash split r7 per VERDICT r6 #4/#5).

A stopword vote is a smoke signal at best, and fails at corpus scale
where short or stopword-poor pages abound.  This module holds the
model behind :func:`zhtml_spark.textops.lang_id_v2`: per-language
log-probability weights over HASHED char trigrams, trained once at
import time from the small seed corpora below (original text written
for this repo; no external data).

Design constraints, in order:

* **cross-engine exact** — the weights are pre-baked INTEGERS
  (``round(1e6 * ln(p))``) computed in ONE place (here, in Python);
  both the Spark literal arrays and the generated DuckDB ``VALUES``
  table come from this module, so no engine ever computes a ``ln``
  and the score sums are exact BIGINT folds;
* **hashing-trick** — trigram → ``hash % N_BUCKETS``, so the weight
  table is a fixed ``N_BUCKETS``-slot array per language regardless
  of vocabulary — the same shape as ``textops.embed_hashing``.  Two
  hash engines, the same split winnow/substring ops ship
  (VERDICT r6 #4): ``md5`` (md5-48, the blessed cross-engine hash —
  every oracle pins it) and ``xxhash64`` (Spark's JVM-native XXH64
  with seed 42 — ~2× cheaper per trigram, the 100-TB engine default
  for :func:`zhtml_spark.textops.lang_gate`; mirrored here by a
  pure-Python XXH64 so training and scoring agree bit-for-bit).
  N_BUCKETS (4096) deliberately EXCEEDS each language's seed
  vocabulary (~1.3k distinct trigrams): at 256 buckets gibberish
  trigrams collided into buckets carrying real mass and scored
  within ~0.2e6 of natural text (measured r6) — above the vocabulary
  size, unseen trigrams land on the smoothing floor and the LM gate
  separates cleanly;
* **deterministic** — no RNG anywhere; retraining is a pure function
  of the seed text.

Language breadth (r7, VERDICT r6 #5): ten seed languages —
en es de fr it pt nl ru ja zh — including Cyrillic and two CJK
scripts.  CJK exercises exactly the path word-splitting collapses
on: char trigrams need no segmentation, and kana/hanzi trigrams are
highly discriminative.  Caveat carried from r6: these are auditable
DEMO corpora, not a fastText replacement — per-language mass is a
few hundred trigrams, so the LM floor for CJK text sits lower
(near-unique trigrams hit the smoothing floor more often) and
multilingual gates should calibrate floors per language
(``lang_gate(min_lm_score={...})`` accepts a per-language dict).

At 10^12 docs the scoring pass is embarrassingly parallel: one JVM
fold per language over the per-doc bucket array, weights broadcast as
plan literals (k × N_BUCKETS ints), zero shuffles, zero Python.
"""

from __future__ import annotations

import hashlib
import math
from functools import lru_cache

N_BUCKETS = 4096
_SCALE = 1_000_000

# Original seed text (written for this repo; lowercase, one string
# per language).  Short on purpose: the model must stay auditable and
# the oracle-side VALUES table small.  The en/es/de entries are the
# r6 originals (their weight arrays are unchanged by the r7 breadth
# additions — weights are per-language).
SEED_TEXTS: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog while the "
        "children watch from the garden and talk about their day at "
        "school. it is a good thing that we have found this quiet "
        "place for the summer holidays. there will be more rain in "
        "the north of the country during the night and the morning "
        "trains could be late again. she said that the old library "
        "near the market still keeps the maps of the river valley."
    ),
    "es": (
        "el perro corre por el parque mientras los niños juegan con "
        "la pelota y hablan de sus cosas. es una buena idea que "
        "vayamos a la playa este verano porque hace mucho calor en "
        "la ciudad. mañana habrá más lluvia en el norte del país "
        "durante la noche y los trenes de la mañana podrían llegar "
        "tarde otra vez. ella dijo que la vieja biblioteca cerca del "
        "mercado todavía guarda los mapas del valle del río."
    ),
    "de": (
        "der hund läuft durch den park während die kinder mit dem "
        "ball spielen und über ihren tag sprechen. es ist eine gute "
        "idee dass wir im sommer ans meer fahren weil es in der "
        "stadt sehr heiß ist. morgen wird es im norden des landes "
        "in der nacht mehr regen geben und die züge am morgen "
        "könnten wieder zu spät kommen. sie sagte dass die alte "
        "bibliothek am markt noch die karten des flusstals hat."
    ),
    "fr": (
        "le chien court dans le parc pendant que les enfants jouent "
        "au ballon et parlent de leur journée à l'école. c'est une "
        "bonne idée d'aller à la mer cet été parce qu'il fait très "
        "chaud en ville. demain il y aura plus de pluie dans le nord "
        "du pays pendant la nuit et les trains du matin pourraient "
        "encore arriver en retard. elle a dit que la vieille "
        "bibliothèque près du marché garde encore les cartes de la "
        "vallée du fleuve."
    ),
    "it": (
        "il cane corre nel parco mentre i bambini giocano con la "
        "palla e parlano della loro giornata a scuola. è una buona "
        "idea andare al mare questa estate perché fa molto caldo in "
        "città. domani ci sarà più pioggia nel nord del paese "
        "durante la notte e i treni del mattino potrebbero arrivare "
        "di nuovo in ritardo. lei ha detto che la vecchia biblioteca "
        "vicino al mercato conserva ancora le mappe della valle del "
        "fiume."
    ),
    "pt": (
        "o cão corre pelo parque enquanto as crianças brincam com a "
        "bola e falam sobre o seu dia na escola. é uma boa ideia "
        "irmos à praia neste verão porque faz muito calor na cidade. "
        "amanhã haverá mais chuva no norte do país durante a noite "
        "e os comboios da manhã podem chegar atrasados outra vez. "
        "ela disse que a velha biblioteca perto do mercado ainda "
        "guarda os mapas do vale do rio."
    ),
    "nl": (
        "de hond rent door het park terwijl de kinderen met de bal "
        "spelen en over hun dag op school praten. het is een goed "
        "idee dat we deze zomer naar zee gaan omdat het in de stad "
        "erg warm is. morgen komt er in het noorden van het land "
        "meer regen in de nacht en de treinen van de ochtend kunnen "
        "weer te laat zijn. zij zei dat de oude bibliotheek bij de "
        "markt nog steeds de kaarten van het rivierdal bewaart."
    ),
    "ru": (
        "собака бежит по парку пока дети играют с мячом и говорят о "
        "своём дне в школе. это хорошая мысль поехать летом к морю "
        "потому что в городе очень жарко. завтра на севере страны "
        "ночью будет больше дождя и утренние поезда могут снова "
        "опоздать. она сказала что старая библиотека возле рынка "
        "всё ещё хранит карты речной долины. они каждое утро ходят "
        "на рынок за хлебом и фруктами и по дороге говорят о погоде "
        "и о делах дома. школа детей стоит недалеко от реки, и "
        "после уроков они часто играют в парке до вечера."
    ),
    "ja": (
        "犬は公園を走り、子どもたちはボールで遊びながら学校での一日に"
        "ついて話しています。この夏は海に行くのが良い考えです。街は"
        "とても暑いからです。明日は国の北部で夜にもっと雨が降り、朝の"
        "電車はまた遅れるかもしれません。彼女は市場の近くの古い図書館"
        "には今も川の谷の地図があると言いました。彼らは毎朝市場へ"
        "行ってパンと果物を買い、歩きながら天気や家のことについて"
        "話します。子どもたちの学校は川の近くにあり、放課後はよく"
        "公園で遊びます。来週は北の町に住む友だちを訪ねる予定です。"
    ),
    "zh": (
        "狗在公园里跑，孩子们一边玩球一边谈论他们在学校的一天。今年"
        "夏天去海边是个好主意，因为城里非常热。明天这个国家的北部夜里"
        "会有更多的雨，早上的火车可能又要晚点了。她说市场附近的那座老"
        "图书馆里还保存着河谷的地图。他们每天早上去市场买面包和水果，"
        "然后一边走路一边谈论天气和家里的事情。孩子们的学校离河边"
        "不远，放学以后他们常常在公园里玩到天黑。我们打算下个星期去"
        "北方看朋友，听说那里的秋天很漂亮，山上的树都变红了。"
    ),
}

# ----------------------------------------------------------- hashing

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_XXH_SEED = 42  # Spark's xxhash64 seed
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes) -> int:
    """XXH64 (Collet's public spec) over ``data``, returned as the
    SIGNED 64-bit value Spark's ``xxhash64(col)`` produces (Spark
    hashes a string column's UTF-8 bytes with seed 42 — equality is
    pytest-pinned against the JVM in test_pipeline_spark)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (_XXH_SEED + _XXH_P1 + _XXH_P2) & _M64
        v2 = (_XXH_SEED + _XXH_P2) & _M64
        v3 = _XXH_SEED & _M64
        v4 = (_XXH_SEED - _XXH_P1) & _M64
        while i + 32 <= n:
            v1 = (
                _rotl64(
                    (v1 + int.from_bytes(data[i : i + 8], "little") * _XXH_P2)
                    & _M64,
                    31,
                )
                * _XXH_P1
                & _M64
            )
            v2 = (
                _rotl64(
                    (
                        v2
                        + int.from_bytes(data[i + 8 : i + 16], "little")
                        * _XXH_P2
                    )
                    & _M64,
                    31,
                )
                * _XXH_P1
                & _M64
            )
            v3 = (
                _rotl64(
                    (
                        v3
                        + int.from_bytes(data[i + 16 : i + 24], "little")
                        * _XXH_P2
                    )
                    & _M64,
                    31,
                )
                * _XXH_P1
                & _M64
            )
            v4 = (
                _rotl64(
                    (
                        v4
                        + int.from_bytes(data[i + 24 : i + 32], "little")
                        * _XXH_P2
                    )
                    & _M64,
                    31,
                )
                * _XXH_P1
                & _M64
            )
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h ^= _rotl64((v * _XXH_P2) & _M64, 31) * _XXH_P1 & _M64
            h = ((h * _XXH_P1) + _XXH_P4) & _M64
    else:
        h = (_XXH_SEED + _XXH_P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (
            _rotl64(
                (int.from_bytes(data[i : i + 8], "little") * _XXH_P2) & _M64,
                31,
            )
            * _XXH_P1
            & _M64
        )
        h ^= k
        h = ((_rotl64(h, 27) * _XXH_P1) + _XXH_P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XXH_P1) & _M64
        h = ((_rotl64(h, 23) * _XXH_P2) + _XXH_P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXH_P5) & _M64
        h = (_rotl64(h, 11) * _XXH_P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(gram: str, hash_fn: str = "md5") -> int:
    """Trigram → one of ``N_BUCKETS`` buckets, per engine:

    * ``md5`` — md5-48 % N_BUCKETS, mirroring ``textops.md5_hash48``
      (first 12 hex chars of md5 as int) so Spark / DuckDB / Python
      agree;
    * ``xxhash64`` — ``pmod(xxh64(utf8), N_BUCKETS)``,
      mirroring Spark's ``pmod(xxhash64(col), n)`` (Python ``%`` on
      the signed value is exactly pmod for a positive modulus)."""
    if hash_fn == "md5":
        h = int(
            hashlib.md5(gram.encode("utf-8")).hexdigest()[:12], 16
        )
        return h % N_BUCKETS
    if hash_fn == "xxhash64":
        return xxh64(gram.encode("utf-8")) % N_BUCKETS
    raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")


@lru_cache(maxsize=None)
def trigram_weights(hash_fn: str = "md5") -> dict[str, tuple[int, ...]]:
    """lang → ``N_BUCKETS`` integer weights: add-one-smoothed trigram
    log-probabilities, quantized at 1e-6, bucketed by ``hash_fn``.
    Pure function of SEED_TEXTS; cached per ``hash_fn``.
    The two engines train SEPARATE tables (same counts, different
    bucket placement) — predictions agree wherever collisions don't
    flip an argmax, which the md5-vs-xxhash64 pytest pins on the
    seed + held-out corpora."""
    out: dict[str, tuple[int, ...]] = {}
    for lang, text in SEED_TEXTS.items():
        counts = [0] * N_BUCKETS
        total = 0
        for i in range(len(text) - 2):
            counts[bucket_of(text[i : i + 3], hash_fn)] += 1
            total += 1
        out[lang] = tuple(
            round(_SCALE * math.log((c + 1) / (total + N_BUCKETS)))
            for c in counts
        )
    return out


# Held-out sentences (original, NOT in SEED_TEXTS) — the confusion
# pytest and the oracle-query corpora draw from these.
HELD_OUT: dict[str, str] = {
    "en": (
        "we walked to the old bridge in the evening and the light "
        "over the water was the best part of the whole trip"
    ),
    "es": (
        "por la mañana los vecinos van al mercado y compran pan y "
        "fruta para toda la semana mientras hablan del tiempo"
    ),
    "de": (
        "am abend gehen die nachbarn durch die stadt und kaufen brot "
        "und obst für die ganze woche während sie über das wetter "
        "sprechen"
    ),
    "fr": (
        "le matin les voisins vont au marché et achètent du pain et "
        "des fruits pour toute la semaine en parlant du temps"
    ),
    "it": (
        "la mattina i vicini vanno al mercato e comprano il pane e "
        "la frutta per tutta la settimana mentre parlano del tempo"
    ),
    "pt": (
        "de manhã os vizinhos vão ao mercado e compram pão e fruta "
        "para toda a semana enquanto falam do tempo"
    ),
    "nl": (
        "in de ochtend gaan de buren naar de markt en kopen brood en "
        "fruit voor de hele week terwijl ze over het weer praten"
    ),
    "ru": (
        "утром соседи идут на рынок и покупают хлеб и фрукты на всю "
        "неделю пока говорят о погоде"
    ),
    "ja": (
        "朝になると近所の人たちは市場へ行って、一週間分のパンと果物を"
        "買いながら天気について話します。"
    ),
    "zh": (
        "早上邻居们去市场买一个星期的面包和水果，一边买一边谈论天气。"
    ),
}


def score_text(text: str, lang: str, hash_fn: str = "md5") -> tuple[int, int]:
    """Reference scorer (sum, n_trigrams) — the Python ground truth
    the confusion pytest checks the Spark fold against."""
    w = trigram_weights(hash_fn)[lang]
    t = text.lower()
    total = 0
    n = 0
    for i in range(len(t) - 2):
        total += w[bucket_of(t[i : i + 3], hash_fn)]
        n += 1
    return total, n


def predict(text: str, hash_fn: str = "md5") -> str:
    """Reference argmax (alphabetical tie-break, 'und' below one
    trigram) — mirrors textops.lang_id_v2."""
    if len(text.lower()) < 3:
        return "und"
    best_lang, best = None, None
    for lang in sorted(SEED_TEXTS):
        s, _ = score_text(text, lang, hash_fn)
        if best is None or s > best:
            best_lang, best = lang, s
    return best_lang or "und"
