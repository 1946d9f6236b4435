"""Seeded crawl inputs: gzipped WARC files of multilingual HTML pages.

The base crawl plants exact-duplicate groups (one body under several
URLs), near-duplicate groups (one word changed per copy), low-quality
stubs, and records the ingest gate must skip (a 404 and a stylesheet).
Each append batch brings new pages plus near-copies of pages already in
the index.  Every language draws from its own 20k-word vocabulary, so
unrelated pages share almost no tokens and never collide in a MinHash
band; a near copy keeps a Jaccard similarity of about 0.98 with its
original, far above the 0.8 threshold, so LSH cannot miss it.

Nothing here calls the program: records are framed and gzipped by hand.
The page list written to ``expected.json`` tells the checks which page
each planted group must keep.
"""

import gzip
import json
import os
import random

from gen_gem import deck

# Function words per language: they make a page read as prose to the
# quality gate.  Kana/kanji "words" for Japanese, particles as markers.
STOPWORDS = {
    "en": ["the", "a", "an", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "dans", "que", "pour"],
    "ru": ["и", "в", "не", "на", "что", "с", "как", "это"],
    "el": ["και", "το", "η", "να", "του", "με", "για", "από"],
    "ja": ["の", "は", "を", "が", "に", "と", "で"],
}
# Latin-script words are hyphenated compounds of common words: one
# token each (the tokenizer splits on spaces), while a letter-trigram
# language identifier reads the parts as the language's own words.
# Cyrillic and Greek are identified by script alone.
BASE_WORDS = {
    "en": "time people year way day thing world life hand part child eye woman place "
          "work week case point government company number group problem fact water "
          "house room mother story night money book word business side kind head "
          "service friend power hour game line member law city community name "
          "president team minute idea body information parent face level office door "
          "health person history party result change morning reason research teacher",
    "de": "zeit jahr mensch tag hand welt leben kind frau mann stadt haus arbeit woche "
          "wasser geld buch wort frage stelle ende kraft stunde spiel name gruppe "
          "problem regierung firma zahl geschichte nacht morgen schule lehrer kirche "
          "familie freund land weg teil seite kopf recht grund macht anfang beispiel "
          "bild gesellschaft wirtschaft sprache zeitung wagen strasse garten",
    "fr": "temps année jour chose homme femme enfant monde vie main partie maison "
          "travail semaine eau argent livre mot question histoire nuit matin école "
          "ville pays gouvernement entreprise nombre groupe problème fait famille ami "
          "tête service force heure jeu ligne fin membre loi voiture idée corps porte "
          "santé personne guerre raison recherche journal rue jardin",
}
# Extra function words for the Latin-script pages: about a third of
# real prose, and most of what tells the languages apart.
FUNCTION_WORDS = {
    "en": "that it was for on are as with his they at be this from have or by one "
          "had not but what all were when we there can your which their said if do "
          "will each about how up out them then she many some so these would other",
    "de": "ich sie es wir auf für von sich den dem auch als wie aber noch nach bei "
          "aus wenn nur oder so schon zum zur über dann durch mehr kann unter sehr",
    "fr": "de un une il elle du des en ne pas sur au plus par avec se ce qui nous "
          "vous ils mais ou comme tout bien fait sont sans être avoir aussi",
}
ALPHABETS = {
    "ru": "абвгдежзийклмнопрстуфхцчшщыэюя",
    "el": "αβγδεζηθικλμνξοπρστυφχψω",
}
LANGS = sorted(STOPWORDS)
VOCAB = 20000
WORDS_PER_PAGE = 220


def vocabulary(lang):
    """A fixed vocabulary per language, the same for every seed."""
    if lang in VOCABS:
        return VOCABS[lang]
    rng = random.Random("vocab-" + lang)
    words = set()
    while len(words) < VOCAB:
        if lang == "ja":
            words.add("".join(chr(0x4E00 + rng.randrange(6000))
                              for _ in range(rng.randint(2, 3))))
        elif lang in BASE_WORDS:
            base = BASE_WORDS[lang].split()
            words.add("-".join(rng.choice(base) for _ in range(rng.randint(2, 3))))
        else:
            words.add("".join(rng.choice(ALPHABETS[lang])
                              for _ in range(rng.randint(4, 9))))
    VOCABS[lang] = sorted(words)
    return VOCABS[lang]


VOCABS = {}


def page_words(rng, lang):
    out = []
    glue = STOPWORDS[lang] + FUNCTION_WORDS.get(lang, "").split()
    share = 0.35 if lang in FUNCTION_WORDS else 0.15
    for _ in range(WORDS_PER_PAGE):
        if rng.random() < share:
            out.append(rng.choice(glue))
        else:
            out.append(rng.choice(vocabulary(lang)))
    return out


def vary(rng, lang, words):
    """A near copy: one content word replaced."""
    out = list(words)
    stop = set(STOPWORDS[lang] + FUNCTION_WORDS.get(lang, "").split())
    i = rng.choice([k for k, w in enumerate(out) if w not in stop])
    out[i] = rng.choice(vocabulary(lang))
    return out


def html(lang, words):
    sep = "" if lang == "ja" else " "
    paras = [sep.join(words[i:i + 60]) for i in range(0, len(words), 60)]
    title = sep.join(words[:3])
    return ('<!DOCTYPE html><html lang="%s"><head><meta charset="utf-8">'
            "<title>%s</title></head><body><h1>%s</h1>%s</body></html>"
            % (lang, title, title, "".join("<p>%s</p>" % p for p in paras)))


def record(url, status, ctype, body):
    payload = ("HTTP/1.1 %s\r\nContent-Type: %s\r\nContent-Length: %d\r\n\r\n"
               % (status, ctype, len(body))).encode() + body
    head = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
            "WARC-Target-URI: %s\r\nContent-Type: application/http; msgtype=response\r\n"
            "Content-Length: %d\r\n\r\n" % (url, len(payload))).encode()
    return gzip.compress(head + payload + b"\r\n\r\n", compresslevel=6, mtime=0)


def warcinfo():
    body = b"software: perfbench crawl generator\r\n"
    head = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
            "Content-Type: application/warc-fields\r\nContent-Length: %d\r\n\r\n"
            % len(body)).encode()
    return gzip.compress(head + body + b"\r\n\r\n", mtime=0)


class Crawl:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.pages = []   # (url, lang, words or None, role, group, batch)
        self.n = 0

    def url(self, lang):
        self.n += 1
        return "https://site%d.example.org/%s/page-%d.html" % (
            self.rng.randrange(400), lang, self.n)

    def add(self, lang, words, role, group, batch):
        u = self.url(lang)
        self.pages.append(dict(url=u, lang=lang, words=words, role=role,
                               group=group, batch=batch))
        return u


def generate(out, seed, pages, batches, batch_pages, files=8):
    """Write the base crawl and the append batches; return the page list.

    Every seed plants the same number of pages of each kind and language;
    the seed picks their words, URLs and order.
    """
    c = Crawl(seed)
    rng = c.rng
    langs = iter(deck(random.Random("langs"), [(lang, 1) for lang in LANGS], 4 * pages))
    originals = []
    for g in range(pages // 40):  # exact-duplicate groups: one body, several URLs
        lang = next(langs)
        words = page_words(rng, lang)
        for _ in range(2 + g % 2):
            c.add(lang, words, "exact", "e%d" % g, -1)
    for g in range(pages // 40):  # near-duplicate groups: one word changed per copy
        lang = next(langs)
        words = page_words(rng, lang)
        c.add(lang, words, "near", "n%d" % g, -1)
        for _ in range(1 + g % 2):
            c.add(lang, vary(rng, lang, words), "near", "n%d" % g, -1)
    for _ in range(pages // 30):  # too short to pass the quality gate
        lang = next(langs)
        c.add(lang, rng.sample(vocabulary(lang), 3), "lowq", None, -1)
    for _ in range(pages // 50):  # never ingested: error page or a stylesheet
        c.add(next(langs), None, "skip", None, -1)
    while len(c.pages) < pages:
        lang = next(langs)
        words = page_words(rng, lang)
        originals.append((c.add(lang, words, "unique", None, -1), lang, words))
    rng.shuffle(originals)
    for b in range(batches):
        for _ in range(batch_pages // 4):  # near copy of a page already indexed
            base_url, lang, words = originals.pop()
            c.add(lang, vary(rng, lang, words), "variant", base_url, b)
        for _ in range(max(1, batch_pages // 20)):
            lang = next(langs)
            c.add(lang, rng.sample(vocabulary(lang), 3), "lowq", None, b)
        while sum(1 for p in c.pages if p["batch"] == b) < batch_pages:
            lang = next(langs)
            c.add(lang, page_words(rng, lang), "unique", None, b)

    base = [p for p in c.pages if p["batch"] < 0]
    rng.shuffle(base)
    os.makedirs(os.path.join(out, "crawl"), exist_ok=True)
    chunks = [base[i::files] for i in range(files)]
    for i, chunk in enumerate(chunks):
        name = "crawl-%05d.warc.gz" % i
        write_file(os.path.join(out, "crawl", name), chunk, rng)
        for p in chunk:
            p["file"] = name
    for b in range(batches):
        name = "batch-%05d.warc.gz" % b
        d = os.path.join(out, "batch%d" % b)
        os.makedirs(d, exist_ok=True)
        chunk = [p for p in c.pages if p["batch"] == b]
        write_file(os.path.join(d, name), chunk, rng)
        for p in chunk:
            p["file"] = name
    listing = [{k: p[k] for k in ("url", "file", "role", "group", "batch")}
               for p in c.pages]
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"pages": listing, "batches": batches}, f)
    return listing


def write_file(path, chunk, rng):
    with open(path, "wb") as f:
        f.write(warcinfo())
        for p in chunk:
            if p["role"] == "skip":
                if rng.random() < 0.5:
                    f.write(record(p["url"], "404 Not Found", "text/html",
                                   b"<html><body>not found</body></html>"))
                else:
                    f.write(record(p["url"], "200 OK", "text/css",
                                   b"body { color: black; }"))
            else:
                f.write(record(p["url"], "200 OK", "text/html; charset=utf-8",
                               html(p["lang"], p["words"]).encode("utf-8")))
