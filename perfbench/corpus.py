"""Seeded generator for the word-count corpus: many whole-text files of
Unicode words drawn from a Zipf-skewed vocabulary.

The vocabulary mixes Latin (with and without diacritics), Turkish words
that start with `İ`, Cyrillic, Greek, Arabic, Hebrew, CJK, kana, Hangul
and numerals, and writes some words capitalised or in upper case. Each
surface form folds to its count key the way the engine's word count
does (`İ` becomes `i`, then lower case), so the generator knows the
exact answer. Words are runs of letters and digits only; the separators
are spaces, newlines, tabs and punctuation. The same seed gives the
same bytes.

Usage: python3 perfbench/corpus.py <out_dir> <seed> [megabytes]
"""
import os
import sys

import numpy as np

VOCAB_SIZE = 20000
ZIPF_S = 1.1
FILES = 64
SEPARATORS = [" "] * 12 + ["\n", "\t", ", ", ". ", "; ", " — ", " (", ") ", ": ", "!\n"]

# (script, alphabet): a word is 2-8 letters, or 1-3 in the syllabic scripts
SCRIPTS = [
    ("latin", "abcdefghijklmnopqrstuvwxyz"),
    ("latin_diacritic", "aeiouéèüößçñøåłžšćğş"),
    ("cyrillic", "абвгдежзиклмнопрстуфхцчшщыэюя"),
    ("greek", "αβγδεζηθικλμνξοπρτυφχψω"),
    ("arabic", "ابتثجحخدذرزسشصضطظعغفقكلمنهوي"),
    ("hebrew", "אבגדהוזחטיכלמנסעפצקרשת"),
    ("han", "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年"),
    ("kana", "あいうえおかきくけこさしすせそたちつてとなにぬねのアイウエオカキクケコ"),
    ("hangul", "가나다라마바사아자차카타파하거너더러머버서어저처"),
]
DIGITS = "0123456789٠١٢٣٤٥٦٧٨٩"


def fold(word):
    """The engine's word-count key: `İ` to `i`, then lower case."""
    return word.replace("İ", "i").lower()


def vocabulary():
    """Fixed list of (surface forms, key): the first surface form is the
    common one; later ones are capitalised or upper-case variants."""
    rng = np.random.default_rng(20260417)
    seen = set()
    vocab = []
    while len(vocab) < VOCAB_SIZE:
        r = rng.random()
        if r < 0.04:
            word = "".join(rng.choice(list(DIGITS[:10] if rng.random() < 0.7 else DIGITS[10:]),
                                      int(rng.integers(1, 5))))
        else:
            name, alphabet = SCRIPTS[int(rng.integers(0, len(SCRIPTS)))]
            n = int(rng.integers(2, 9)) if name not in ("han", "kana", "hangul") else int(rng.integers(1, 4))
            word = "".join(rng.choice(list(alphabet), n))
            if name == "latin" and rng.random() < 0.05:
                word = "İ" + word
        key = fold(word)
        if key in seen:
            continue
        seen.add(key)
        forms = [word]
        if word.upper() != word:
            # keep only variants that fold back to the same key
            # (`ß`.upper() is `SS`, for one)
            forms += [f for f in (word[0].upper() + word[1:], word.upper()) if fold(f) == key]
        vocab.append((forms, key))
    return vocab


def generate(out_dir, seed, megabytes=24.0):
    """Write the corpus files under `out_dir` and return
    (counts by key, total tokens, total bytes)."""
    vocab = vocabulary()
    rng = np.random.default_rng([seed, 7])
    probs = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    probs /= probs.sum()
    surfaces = np.array([f for forms, _ in vocab for f in forms], dtype=object)
    first_form = np.cumsum([0] + [len(forms) for forms, _ in vocab[:-1]])
    n_forms = np.array([len(forms) for forms, _ in vocab])
    seps = np.array(SEPARATORS, dtype=object)

    os.makedirs(out_dir, exist_ok=True)
    counts = np.zeros(VOCAB_SIZE, dtype=np.int64)
    # ~9 bytes per token on average across the scripts; every file has
    # the same number of tokens, so the work per seed stays level
    n = max(1, int(megabytes * 1e6 / FILES / 9))
    total_bytes = 0
    total_tokens = 0
    for i in range(FILES):
        ids = rng.choice(VOCAB_SIZE, n, p=probs)
        variant = rng.random(n)
        form = np.minimum(np.where(variant < 0.85, 0, np.where(variant < 0.97, 1, 2)),
                          n_forms[ids] - 1)
        words = surfaces[first_form[ids] + form]
        gaps = seps[rng.integers(0, len(seps), n)]
        inter = np.empty(2 * n, dtype=object)
        inter[0::2] = words
        inter[1::2] = gaps
        text = "".join(inter.tolist())
        data = text.encode("utf-8")
        with open(os.path.join(out_dir, f"part-{i:04d}.txt"), "wb") as fh:
            fh.write(data)
        counts += np.bincount(ids, minlength=VOCAB_SIZE)
        total_bytes += len(data)
        total_tokens += n
    by_key = {vocab[k][1]: int(c) for k, c in enumerate(counts) if c}
    return by_key, total_tokens, total_bytes


if __name__ == "__main__":
    counts, tokens, size = generate(sys.argv[1], int(sys.argv[2]),
                                    float(sys.argv[3]) if len(sys.argv) > 3 else 24.0)
    print(f"{len(counts)} distinct words, {tokens} tokens, {size} bytes")
