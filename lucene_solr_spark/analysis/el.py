"""Greek analyzer chain (round 5): GreekAnalyzer.createComponents:100
— StandardTokenizer + GreekLowerCaseFilter + StopFilter +
GreekStemFilter.  The stemmer realizes the same published algorithm
(Ntais' Greek stemmer, as refined in the reference) as
el/GreekStemmer.java:35 — a 22-rule suffix cascade over
lowercased/σ-normalized Greek with per-rule exception stems; the
lowercase filter is el/GreekLowerCaseFilter.java:55 (final sigma ς ->
σ, tonos/dialytika diacritic folding, else simple toLowerCase).

Java's `&&`/`||` precedence is preserved verbatim by Python's
`and`/`or` — several rules rely on a length guard binding only to
the first alternative (e.g. rule 8's 7-char branches), and the
transliteration keeps that exactly.

Verified token-for-token against the COMPILED reference GreekAnalyzer
(tools/gen_snowball_fixtures.py corpus -> tests/test_analysis_chains.py).
"""

from __future__ import annotations

_GREEK_FOLD = {
    "ς": "σ",
    "Ά": "α", "ά": "α",
    "Έ": "ε", "έ": "ε",
    "Ή": "η", "ή": "η",
    "Ί": "ι", "Ϊ": "ι", "ί": "ι", "ϊ": "ι", "ΐ": "ι",
    "Ύ": "υ", "Ϋ": "υ", "ύ": "υ", "ϋ": "υ", "ΰ": "υ",
    "Ό": "ο", "ό": "ο",
    "Ώ": "ω", "ώ": "ω",
    "΢": "ς",  # reserved slot — legacy-index compatibility
}


def greek_lower(term: str) -> str:
    """GreekLowerCaseFilter.lowerCase per codepoint."""
    from .uax29 import simple_lower
    out = []
    for ch in term:
        f = _GREEK_FOLD.get(ch)
        out.append(f if f is not None else simple_lower(ch))
    return "".join(out)


_VOWELS = frozenset("αεηιουω")
_VOWELS_NO_Y = frozenset("αεηιοω")

_EXC4 = frozenset(("θ", "δ", "ελ", "γαλ", "ν", "π", "ιδ", "παρ"))
_EXC6 = frozenset((
    "αλ", "αδ", "ενδ", "αμαν", "αμμοχαλ", "ηθ", "ανηθ", "αντιδ",
    "φυσ", "βρωμ", "γερ", "εξωδ", "καλπ", "καλλιν", "καταδ", "μουλ",
    "μπαν", "μπαγιατ", "μπολ", "μποσ", "νιτ", "ξικ", "συνομηλ",
    "πετσ", "πιτσ", "πικαντ", "πλιατσ", "ποστελν", "πρωτοδ", "σερτ",
    "συναδ", "τσαμ", "υποδ", "φιλον", "φυλοδ", "χασ"))
_EXC7 = frozenset(("αναπ", "αποθ", "αποκ", "αποστ", "βουβ", "ξεθ",
                   "ουλ", "πεθ", "πικρ", "ποτ", "σιχ", "χ"))
_EXC8A = frozenset(("τρ", "τσ"))
_EXC8B = frozenset((
    "βετερ", "βουλκ", "βραχμ", "γ", "δραδουμ", "θ", "καλπουζ",
    "καστελ", "κορμορ", "λαοπλ", "μωαμεθ", "μ", "μουσουλμ", "ν",
    "ουλ", "π", "πελεκ", "πλ", "πολισ", "πορτολ", "σαρακατσ",
    "σουλτ", "τσαρλατ", "ορφ", "τσιγγ", "τσοπ", "φωτοστεφ", "χ",
    "ψυχοπλ", "αγ", "γαλ", "γερ", "δεκ", "διπλ", "αμερικαν", "ουρ",
    "πιθ", "πουριτ", "σ", "ζωντ", "ικ", "καστ", "κοπ", "λιχ",
    "λουθηρ", "μαιντ", "μελ", "σιγ", "σπ", "στεγ", "τραγ", "τσαγ",
    "φ", "ερ", "αδαπ", "αθιγγ", "αμηχ", "ανικ", "ανοργ", "απηγ",
    "απιθ", "ατσιγγ", "βασ", "βασκ", "βαθυγαλ", "βιομηχ", "βραχυκ",
    "διατ", "διαφ", "ενοργ", "θυσ", "καπνοβιομηχ", "καταγαλ",
    "κλιβ", "κοιλαρφ", "λιβ", "μεγλοβιομηχ", "μικροβιομηχ", "νταβ",
    "ξηροκλιβ", "ολιγοδαμ", "ολογαλ", "πενταρφ", "περηφ", "περιτρ",
    "πλατ", "πολυδαπ", "πολυμηχ", "στεφ", "ταβ", "τετ", "υπερηφ",
    "υποκοπ", "χαμηλοδαπ", "ψηλοταβ"))
_EXC9 = frozenset((
    "αβαρ", "βεν", "εναρ", "αβρ", "αδ", "αθ", "αν", "απλ", "βαρον",
    "ντρ", "σκ", "κοπ", "μπορ", "νιφ", "παγ", "παρακαλ", "σερπ",
    "σκελ", "συρφ", "τοκ", "υ", "δ", "εμ", "θαρρ", "θ"))
_EXC12A = frozenset(("π", "απ", "συμπ", "ασυμπ", "ακαταπ",
                     "αμεταμφ"))
_EXC12B = frozenset(("αλ", "αρ", "εκτελ", "ζ", "μ", "ξ", "παρακαλ",
                     "προ", "νισ"))
_EXC13 = frozenset(("διαθ", "θ", "παρακαταθ", "προσθ", "συνθ"))
_EXC14 = frozenset((
    "φαρμακ", "χαδ", "αγκ", "αναρρ", "βρομ", "εκλιπ", "λαμπιδ",
    "λεχ", "μ", "πατ", "ρ", "λ", "μεδ", "μεσαζ", "υποτειν", "αμ",
    "αιθ", "ανηκ", "δεσποζ", "ενδιαφερ", "δε", "δευτερευ",
    "καθαρευ", "πλε", "τσα"))
_EXC15A = frozenset((
    "αβαστ", "πολυφ", "αδηφ", "παμφ", "ρ", "ασπ", "αφ", "αμαλ",
    "αμαλλι", "ανυστ", "απερ", "ασπαρ", "αχαρ", "δερβεν", "δροσοπ",
    "ξεφ", "νεοπ", "νομοτ", "ολοπ", "ομοτ", "προστ", "προσωποπ",
    "συμπ", "συντ", "τ", "υποτ", "χαρ", "αειπ", "αιμοστ", "ανυπ",
    "αποτ", "αρτιπ", "διατ", "εν", "επιτ", "κροκαλοπ", "σιδηροπ",
    "λ", "ναυ", "ουλαμ", "ουρ", "π", "τρ", "μ"))
_EXC15B = frozenset(("ψοφ", "ναυλοχ"))
_EXC16 = frozenset(("ν", "χερσον", "δωδεκαν", "ερημον", "μεγαλον",
                    "επταν"))
_EXC17 = frozenset(("ασβ", "σβ", "αχρ", "χρ", "απλ", "αειμν",
                    "δυσχρ", "ευχρ", "κοινοχρ", "παλιμψ"))
_EXC18 = frozenset(("ν", "ρ", "σπι", "στραβομουτσ", "κακομουτσ",
                    "εξων"))
_EXC19 = frozenset(("παρασουσ", "φ", "χ", "ωριοπλ", "αζ",
                    "αλλοσουσ", "ασουσ"))


def stem_el(word: str) -> str:
    """GreekStemmer.stem — operates on the already greek_lower'd
    term; words shorter than 4 chars are untouched."""
    s = word
    if len(s) < 4:
        return s
    orig = len(s)
    s = _r0(s)
    s = _r1(s)
    s = _r2(s)
    s = _r3(s)
    s = _r4(s)
    s = _r5(s)
    s = _r6(s)
    s = _r7(s)
    s = _r8(s)
    s = _r9(s)
    s = _r10(s)
    s = _r11(s)
    s = _r12(s)
    s = _r13(s)
    s = _r14(s)
    s = _r15(s)
    s = _r16(s)
    s = _r17(s)
    s = _r18(s)
    s = _r19(s)
    s = _r20(s)
    if len(s) == orig:
        s = _r21(s)
    return _r22(s)


def _ev(s: str) -> bool:
    return bool(s) and s[-1] in _VOWELS


def _evny(s: str) -> bool:
    return bool(s) and s[-1] in _VOWELS_NO_Y


def _r0(s):
    n = len(s)
    if n > 9 and (s.endswith("καθεστωτοσ")
                  or s.endswith("καθεστωτων")):
        return s[:-4]
    if n > 8 and (s.endswith("γεγονοτοσ") or s.endswith("γεγονοτων")):
        return s[:-4]
    if n > 8 and s.endswith("καθεστωτα"):
        return s[:-3]
    if n > 7 and (s.endswith("τατογιου") or s.endswith("τατογιων")):
        return s[:-4]
    if n > 7 and s.endswith("γεγονοτα"):
        return s[:-3]
    if n > 7 and s.endswith("καθεστωσ"):
        return s[:-2]
    if (n > 6 and (s.endswith("σκαγιου"))) or s.endswith("σκαγιων") \
            or s.endswith("ολογιου") or s.endswith("ολογιων") \
            or s.endswith("κρεατοσ") or s.endswith("κρεατων") \
            or s.endswith("περατοσ") or s.endswith("περατων") \
            or s.endswith("τερατοσ") or s.endswith("τερατων"):
        return s[:-4]
    if n > 6 and s.endswith("τατογια"):
        return s[:-3]
    if n > 6 and s.endswith("γεγονοσ"):
        return s[:-2]
    if n > 5 and (s.endswith("φαγιου") or s.endswith("φαγιων")
                  or s.endswith("σογιου") or s.endswith("σογιων")):
        return s[:-4]
    if n > 5 and (s.endswith("σκαγια") or s.endswith("ολογια")
                  or s.endswith("κρεατα") or s.endswith("περατα")
                  or s.endswith("τερατα")):
        return s[:-3]
    if n > 4 and (s.endswith("φαγια") or s.endswith("σογια")
                  or s.endswith("φωτοσ") or s.endswith("φωτων")):
        return s[:-3]
    if n > 4 and (s.endswith("κρεασ") or s.endswith("περασ")
                  or s.endswith("τερασ")):
        return s[:-2]
    if n > 3 and s.endswith("φωτα"):
        return s[:-2]
    if n > 2 and s.endswith("φωσ"):
        return s[:-1]
    return s


def _r1(s):
    if len(s) > 4 and (s.endswith("αδεσ") or s.endswith("αδων")):
        suf = s[-4:]
        s = s[:-4]
        if not (s.endswith("οκ") or s.endswith("μαμ")
                or s.endswith("μαν") or s.endswith("μπαμπ")
                or s.endswith("πατερ") or s.endswith("γιαγι")
                or s.endswith("νταντ") or s.endswith("κυρ")
                or s.endswith("θει") or s.endswith("πεθερ")):
            s = s + suf[:2]  # add back -αδ
    return s


def _r2(s):
    if len(s) > 4 and (s.endswith("εδεσ") or s.endswith("εδων")):
        suf = s[-4:]
        s = s[:-4]
        if (s.endswith("οπ") or s.endswith("ιπ") or s.endswith("εμπ")
                or s.endswith("υπ") or s.endswith("γηπ")
                or s.endswith("δαπ") or s.endswith("κρασπ")
                or s.endswith("μιλ")):
            s = s + suf[:2]  # add back -εδ
    return s


def _r3(s):
    if len(s) > 5 and (s.endswith("ουδεσ") or s.endswith("ουδων")):
        suf = s[-5:]
        s = s[:-5]
        if (s.endswith("αρκ") or s.endswith("καλιακ")
                or s.endswith("πεταλ") or s.endswith("λιχ")
                or s.endswith("πλεξ") or s.endswith("σκ")
                or s.endswith("σ") or s.endswith("φλ")
                or s.endswith("φρ") or s.endswith("βελ")
                or s.endswith("λουλ") or s.endswith("χν")
                or s.endswith("σπ") or s.endswith("τραγ")
                or s.endswith("φε")):
            s = s + suf[:3]  # add back -ουδ
    return s


def _r4(s):
    if len(s) > 3 and (s.endswith("εωσ") or s.endswith("εων")):
        s = s[:-3]
        if s in _EXC4:
            s = s + "ε"
    return s


def _r5(s):
    if len(s) > 2 and s.endswith("ια"):
        s = s[:-2]
        if _ev(s):
            s = s + "ι"
    elif len(s) > 3 and (s.endswith("ιου") or s.endswith("ιων")):
        s = s[:-3]
        if _ev(s):
            s = s + "ι"
    return s


def _r6(s):
    removed = False
    if len(s) > 3 and (s.endswith("ικα") or s.endswith("ικο")):
        s = s[:-3]
        removed = True
    elif len(s) > 4 and (s.endswith("ικου") or s.endswith("ικων")):
        s = s[:-4]
        removed = True
    if removed:
        if _ev(s) or s in _EXC6:
            s = s + "ικ"
    return s


def _r7(s):
    if len(s) == 5 and s.endswith("αγαμε"):
        return s[:-1]
    if len(s) > 7 and s.endswith("ηθηκαμε"):
        s = s[:-7]
    elif len(s) > 6 and s.endswith("ουσαμε"):
        s = s[:-6]
    elif len(s) > 5 and (s.endswith("αγαμε") or s.endswith("ησαμε")
                         or s.endswith("ηκαμε")):
        s = s[:-5]
    if len(s) > 3 and s.endswith("αμε"):
        s = s[:-3]
        if s in _EXC7:
            s = s + "αμ"
    return s


def _r8(s):
    removed = False
    if len(s) > 8 and s.endswith("ιουντανε"):
        s = s[:-8]
        removed = True
    elif len(s) > 7 and s.endswith("ιοντανε") \
            or s.endswith("ουντανε") or s.endswith("ηθηκανε"):
        s = s[:-7]
        removed = True
    elif len(s) > 6 and s.endswith("ιοτανε") \
            or s.endswith("οντανε") or s.endswith("ουσανε"):
        s = s[:-6]
        removed = True
    elif len(s) > 5 and s.endswith("αγανε") \
            or s.endswith("ησανε") or s.endswith("οτανε") \
            or s.endswith("ηκανε"):
        s = s[:-5]
        removed = True
    if removed and s in _EXC8A:
        s = s + "αγαν"
    if len(s) > 3 and s.endswith("ανε"):
        s = s[:-3]
        if _evny(s) or s in _EXC8B:
            s = s + "αν"
    return s


def _r9(s):
    if len(s) > 5 and s.endswith("ησετε"):
        s = s[:-5]
    if len(s) > 3 and s.endswith("ετε"):
        s = s[:-3]
        if (s in _EXC9 or _evny(s) or s.endswith("οδ")
                or s.endswith("αιρ") or s.endswith("φορ")
                or s.endswith("ταθ") or s.endswith("διαθ")
                or s.endswith("σχ") or s.endswith("ενδ")
                or s.endswith("ευρ") or s.endswith("τιθ")
                or s.endswith("υπερθ") or s.endswith("ραθ")
                or s.endswith("ενθ") or s.endswith("ροθ")
                or s.endswith("σθ") or s.endswith("πυρ")
                or s.endswith("αιν") or s.endswith("συνδ")
                or s.endswith("συν") or s.endswith("συνθ")
                or s.endswith("χωρ") or s.endswith("πον")
                or s.endswith("βρ") or s.endswith("καθ")
                or s.endswith("ευθ") or s.endswith("εκθ")
                or s.endswith("νετ") or s.endswith("ρον")
                or s.endswith("αρκ") or s.endswith("βαρ")
                or s.endswith("βολ") or s.endswith("ωφελ")):
            s = s + "ετ"
    return s


def _r10(s):
    if len(s) > 5 and (s.endswith("οντασ") or s.endswith("ωντασ")):
        s = s[:-5]
        if len(s) == 3 and s.endswith("αρχ"):
            s = s + "οντ"
        if s.endswith("κρε"):
            s = s + "ωντ"
    return s


def _r11(s):
    if len(s) > 6 and s.endswith("ομαστε"):
        s = s[:-6]
        if len(s) == 2 and s.endswith("ον"):
            s = s + "ομαστ"
    elif len(s) > 7 and s.endswith("ιομαστε"):
        s = s[:-7]
        if len(s) == 2 and s.endswith("ον"):
            s = s + "ομαστ"
    return s


def _r12(s):
    if len(s) > 5 and s.endswith("ιεστε"):
        s = s[:-5]
        if s in _EXC12A:
            s = s + "ιεστ"
    if len(s) > 4 and s.endswith("εστε"):
        s = s[:-4]
        if s in _EXC12B:
            s = s + "εστ"
    return s


def _r13(s):
    if len(s) > 6 and s.endswith("ηθηκεσ"):
        s = s[:-6]
    elif len(s) > 5 and (s.endswith("ηθηκα") or s.endswith("ηθηκε")):
        s = s[:-5]
    removed = False
    if len(s) > 4 and s.endswith("ηκεσ"):
        s = s[:-4]
        removed = True
    elif len(s) > 3 and (s.endswith("ηκα") or s.endswith("ηκε")):
        s = s[:-3]
        removed = True
    if removed and (s in _EXC13 or s.endswith("σκωλ")
                    or s.endswith("σκουλ") or s.endswith("ναρθ")
                    or s.endswith("σφ") or s.endswith("οθ")
                    or s.endswith("πιθ")):
        s = s + "ηκ"
    return s


def _r14(s):
    removed = False
    if len(s) > 5 and s.endswith("ουσεσ"):
        s = s[:-5]
        removed = True
    elif len(s) > 4 and (s.endswith("ουσα") or s.endswith("ουσε")):
        s = s[:-4]
        removed = True
    if removed and (s in _EXC14 or _ev(s) or s.endswith("ποδαρ")
                    or s.endswith("βλεπ") or s.endswith("πανταχ")
                    or s.endswith("φρυδ") or s.endswith("μαντιλ")
                    or s.endswith("μαλλ") or s.endswith("κυματ")
                    or s.endswith("λαχ") or s.endswith("ληγ")
                    or s.endswith("φαγ") or s.endswith("ομ")
                    or s.endswith("πρωτ")):
        s = s + "ουσ"
    return s


def _r15(s):
    removed = False
    if len(s) > 4 and s.endswith("αγεσ"):
        s = s[:-4]
        removed = True
    elif len(s) > 3 and (s.endswith("αγα") or s.endswith("αγε")):
        s = s[:-3]
        removed = True
    if removed:
        cond1 = (s in _EXC15A or s.endswith("οφ")
                 or s.endswith("πελ") or s.endswith("χορτ")
                 or s.endswith("λλ") or s.endswith("σφ")
                 or s.endswith("ρπ") or s.endswith("φρ")
                 or s.endswith("πρ") or s.endswith("λοχ")
                 or s.endswith("σμην"))
        cond2 = s in _EXC15B or s.endswith("κολλ")
        if cond1 and not cond2:
            s = s + "αγ"
    return s


def _r16(s):
    removed = False
    if len(s) > 4 and s.endswith("ησου"):
        s = s[:-4]
        removed = True
    elif len(s) > 3 and (s.endswith("ησε") or s.endswith("ησα")):
        s = s[:-3]
        removed = True
    if removed and s in _EXC16:
        s = s + "ησ"
    return s


def _r17(s):
    if len(s) > 4 and s.endswith("ηστε"):
        s = s[:-4]
        if s in _EXC17:
            s = s + "ηστ"
    return s


def _r18(s):
    removed = False
    if len(s) > 6 and (s.endswith("ησουνε") or s.endswith("ηθουνε")):
        s = s[:-6]
        removed = True
    elif len(s) > 4 and s.endswith("ουνε"):
        s = s[:-4]
        removed = True
    if removed and s in _EXC18:
        s = s + "ουν"
    return s


def _r19(s):
    removed = False
    if len(s) > 6 and (s.endswith("ησουμε") or s.endswith("ηθουμε")):
        s = s[:-6]
        removed = True
    elif len(s) > 4 and s.endswith("ουμε"):
        s = s[:-4]
        removed = True
    if removed and s in _EXC19:
        s = s + "ουμ"
    return s


def _r20(s):
    if len(s) > 5 and (s.endswith("ματων") or s.endswith("ματοσ")):
        return s[:-3]
    if len(s) > 4 and s.endswith("ματα"):
        return s[:-2]
    return s


_R21_BY_LEN = (
    (9, ("ιοντουσαν",)),
    (8, ("ιομασταν", "ιοσασταν", "ιουμαστε", "οντουσαν")),
    (7, ("ιεμαστε", "ιεσαστε", "ιομουνα", "ιοσαστε", "ιοσουνα",
         "ιουνται", "ιουνταν", "ηθηκατε", "ομασταν", "οσασταν",
         "ουμαστε")),
    (6, ("ιομουν", "ιονταν", "ιοσουν", "ηθειτε", "ηθηκαν", "ομουνα",
         "οσαστε", "οσουνα", "ουνται", "ουνταν", "ουσατε")),
    (5, ("αγατε", "ιεμαι", "ιεται", "ιεσαι", "ιοταν", "ιουμα",
         "ηθεισ", "ηθουν", "ηκατε", "ησατε", "ησουν", "ομουν",
         "ονται", "ονταν", "οσουν", "ουμαι", "ουσαν")),
    (4, ("αγαν", "αμαι", "ασαι", "αται", "ειτε", "εσαι", "εται",
         "ηδεσ", "ηδων", "ηθει", "ηκαν", "ησαν", "ησει", "ησεσ",
         "ομαι", "οταν")),
    (3, ("αει", "εισ", "ηθω", "ησω", "ουν", "ουσ")),
    (2, ("αν", "ασ", "αω", "ει", "εσ", "ησ", "οι", "οσ", "ου", "υσ",
         "ων")),
)


def _r21(s):
    for k, sufs in _R21_BY_LEN:
        if len(s) > k:
            for suf in sufs:
                if s.endswith(suf):
                    return s[:-k]
    if len(s) > 1 and _ev(s):
        return s[:-1]
    return s


def _r22(s):
    if s.endswith("εστερ") or s.endswith("εστατ"):
        return s[:-5]
    if (s.endswith("οτερ") or s.endswith("οτατ") or s.endswith("υτερ")
            or s.endswith("υτατ") or s.endswith("ωτερ")
            or s.endswith("ωτατ")):
        return s[:-4]
    return s
