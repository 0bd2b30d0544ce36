/* The kernel's decode -> parse -> assemble prefix, compiled.
 *
 * assembled_blocks(html) returns exactly what oracle._assembled_blocks
 * returns: a list of (kind, rtl, join, lines, total_chars, link_density,
 * text_density) tuples, each line a (words, bits-or-None) tuple.  It
 * raises the same exception types: ValueError for a None payload and
 * UnicodeDecodeError for undecodable bytes.  Payloads that are neither
 * str, bytes nor None go to the pure-Python prefix.
 *
 * The tokenizer follows oracle._TOKEN_RE, oracle._parse_blocks and
 * oracle._assemble_block branch for branch.  Points where a hand-written
 * scanner could drift from the regular expressions:
 *   - with re.I, [a-zA-Z] also matches U+0130, U+0131, U+017F and U+212A,
 *     and a tag name's str.lower() maps U+0130 to "i̇" and U+212A
 *     to "k";
 *   - the case-insensitive "</script" (etc.) closers match U+017F for
 *     's' and U+0130/U+0131 for 'i';
 *   - "\s" and str.isspace()/str.split() are Py_UNICODE_ISSPACE (U+00A0
 *     splits words yet counts toward total_chars), while _WS_RE collapses
 *     only ASCII space, \t, \r, \n, \f and \v;
 *   - a "<!DOCTYPE ...>" token and bogus markup both drop up to the next
 *     '>', so one branch serves both.
 * html.unescape is a rare path (an '&' in a text run or in a dir= or
 * data-line-order= value): it calls back into Python.
 *
 * Every scan is linear: the next '>' is memoized, comment and CDATA
 * closers keep the oracle's one-rfind memo, and a raw-content skip
 * resumes past the closer it found.
 */

#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <math.h>
#include <string.h>

/* Python callables installed by setup() */
static PyObject *py_unescape, *py_fallback;

/* block kinds */
enum { K_PARAGRAPH, K_HEADING, K_CAPTION, K_FLOATING, K_TABLE, K_SEPARATOR,
       K_IMAGE, K_NOISE, N_KINDS };
static const char *KIND_NAMES[N_KINDS] = {
    "paragraph", "heading", "caption", "floating", "table", "separator",
    "image", "noise",
};
static PyObject *kind_str[N_KINDS];

/* tag categories, numbered as oracle._TAG_CAT numbers them */
enum { CAT_OTHER, CAT_SKIP, CAT_BR, CAT_A, CAT_STYLE, CAT_BOILER, CAT_VOID,
       CAT_BLOCK };

typedef struct {
    const char *name;
    int cat;
    int arg; /* block/void kind, or the style bit */
} TagInfo;

static const TagInfo TAGS[] = {
    {"p", CAT_BLOCK, K_PARAGRAPH}, {"li", CAT_BLOCK, K_PARAGRAPH},
    {"pre", CAT_BLOCK, K_PARAGRAPH}, {"dd", CAT_BLOCK, K_PARAGRAPH},
    {"dt", CAT_BLOCK, K_PARAGRAPH}, {"h1", CAT_BLOCK, K_HEADING},
    {"h2", CAT_BLOCK, K_HEADING}, {"h3", CAT_BLOCK, K_HEADING},
    {"h4", CAT_BLOCK, K_HEADING}, {"h5", CAT_BLOCK, K_HEADING},
    {"h6", CAT_BLOCK, K_HEADING}, {"figcaption", CAT_BLOCK, K_CAPTION},
    {"caption", CAT_BLOCK, K_CAPTION}, {"blockquote", CAT_BLOCK, K_FLOATING},
    {"td", CAT_BLOCK, K_TABLE}, {"th", CAT_BLOCK, K_TABLE},
    {"hr", CAT_VOID, K_SEPARATOR}, {"img", CAT_VOID, K_IMAGE},
    {"b", CAT_STYLE, 1}, {"i", CAT_STYLE, 2}, {"code", CAT_STYLE, 4},
    {"script", CAT_SKIP, 0}, {"style", CAT_SKIP, 0},
    {"template", CAT_SKIP, 0}, {"noscript", CAT_SKIP, 0},
    {"title", CAT_SKIP, 0},
    {"nav", CAT_BOILER, 0}, {"header", CAT_BOILER, 0},
    {"footer", CAT_BOILER, 0}, {"aside", CAT_BOILER, 0},
    {"br", CAT_BR, 0}, {"a", CAT_A, 0},
};
#define N_TAGS ((int)(sizeof(TAGS) / sizeof(TAGS[0])))
#define MAX_TAG_LEN 10

/* ---------------------------------------------------------------------- */
/* character classes                                                       */
/* ---------------------------------------------------------------------- */

static inline int is_ascii_alpha(Py_UCS4 c) {
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}

/* [a-zA-Z] under re.I */
static inline int is_name_start(Py_UCS4 c) {
    return is_ascii_alpha(c) || c == 0x130 || c == 0x131 || c == 0x17f
           || c == 0x212a;
}

/* [a-zA-Z0-9:_-] under re.I */
static inline int is_name_char(Py_UCS4 c) {
    return is_name_start(c) || (c >= '0' && c <= '9') || c == ':' || c == '_'
           || c == '-';
}

/* one pattern letter (ASCII lower case) of a case-insensitive literal */
static inline int fold_eq(Py_UCS4 c, char letter) {
    if (c >= 'A' && c <= 'Z')
        c += 32;
    if (c == (Py_UCS4)letter)
        return 1;
    if (letter == 's')
        return c == 0x17f;
    if (letter == 'i')
        return c == 0x130 || c == 0x131;
    return 0;
}

/* _WS_RE's class: the whitespace the tokenizer collapses */
static inline int is_ws_ascii(Py_UCS4 c) {
    return c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
           || c == '\v';
}

/* ---------------------------------------------------------------------- */
/* parser state                                                            */
/* ---------------------------------------------------------------------- */

typedef struct {
    Py_UCS4 *text;        /* the block's parts, concatenated */
    unsigned char *bits;  /* style bits per character of text */
    Py_ssize_t len, cap;
    Py_ssize_t tag_count, link_chars;
    int kind, tag;        /* tag: TAGS index of the opening tag, -1 if none */
    char rtl, btt, join, styled;
} Block;

typedef struct {
    Py_UCS4 *tag; /* lowered tag name */
    Py_ssize_t len;
    int rtl;
} DirScope;

typedef struct {
    const Py_UCS4 *s;
    Py_ssize_t n;
    Block *blocks;
    Py_ssize_t nblocks, capblocks;
    Py_ssize_t *stack; /* open blocks, as indices into blocks */
    Py_ssize_t nstack, capstack;
    DirScope *dirs;
    Py_ssize_t ndirs, capdirs;
    Py_ssize_t link_depth, boiler_depth, style_depth[3];
    int style_bits;
    Py_ssize_t gt_from, gt_at;     /* memo: first '>' at or after gt_from */
    Py_ssize_t last_closer[2];     /* memo: rfind of "-->" / "]]>", -2 unset */
    Py_UCS4 *ltag;                 /* lowered name of the current tag */
    Py_ssize_t ltag_len, ltag_cap;
} Parser;

static int grow(void **buf, Py_ssize_t *cap, Py_ssize_t need, size_t item) {
    if (need <= *cap)
        return 0;
    Py_ssize_t c = *cap ? *cap : 8;
    while (c < need)
        c *= 2;
    void *p = PyMem_Realloc(*buf, (size_t)c * item);
    if (p == NULL) {
        PyErr_NoMemory();
        return -1;
    }
    *buf = p;
    *cap = c;
    return 0;
}

static void parser_free(Parser *P) {
    for (Py_ssize_t i = 0; i < P->nblocks; i++) {
        PyMem_Free(P->blocks[i].text);
        PyMem_Free(P->blocks[i].bits);
    }
    for (Py_ssize_t i = 0; i < P->ndirs; i++)
        PyMem_Free(P->dirs[i].tag);
    PyMem_Free(P->blocks);
    PyMem_Free(P->stack);
    PyMem_Free(P->dirs);
    PyMem_Free(P->ltag);
}

/* first '>' at or after p, or -1; linear over a whole document because
 * every rescan starts past the previous answer */
static Py_ssize_t next_gt(Parser *P, Py_ssize_t p) {
    if (p >= P->gt_from && (P->gt_at < 0 || P->gt_at >= p))
        return P->gt_at;
    Py_ssize_t i = p;
    while (i < P->n && P->s[i] != '>')
        i++;
    P->gt_from = p;
    P->gt_at = i < P->n ? i : -1;
    return P->gt_at;
}

static Py_ssize_t find_closer(Parser *P, Py_ssize_t from, Py_ssize_t to,
                              int backwards, const char *closer) {
    /* first (or last) start of the 3-char closer within [from, to) */
    const Py_UCS4 *s = P->s;
    if (!backwards) {
        for (Py_ssize_t i = from; i + 3 <= to; i++)
            if (s[i] == (Py_UCS4)closer[0] && s[i + 1] == (Py_UCS4)closer[1]
                && s[i + 2] == (Py_UCS4)closer[2])
                return i;
    } else {
        for (Py_ssize_t i = to - 3; i >= from; i--)
            if (s[i] == (Py_UCS4)closer[0] && s[i + 1] == (Py_UCS4)closer[1]
                && s[i + 2] == (Py_UCS4)closer[2])
                return i;
    }
    return -1;
}

/* start of the first case-insensitive "</name" at or after p, or -1 */
static Py_ssize_t find_skip_end(Parser *P, Py_ssize_t p, const char *name) {
    const Py_UCS4 *s = P->s;
    Py_ssize_t n = P->n, k = (Py_ssize_t)strlen(name);
    for (Py_ssize_t i = p; i + 2 + k <= n; i++) {
        if (s[i] != '<' || s[i + 1] != '/')
            continue;
        Py_ssize_t j = 0;
        while (j < k && fold_eq(s[i + 2 + j], name[j]))
            j++;
        if (j == k)
            return i;
    }
    return -1;
}

/* str.lower() of the tag name s[a:b] into P->ltag */
static int lower_tag(Parser *P, Py_ssize_t a, Py_ssize_t b) {
    if (grow((void **)&P->ltag, &P->ltag_cap, 2 * (b - a) + 1, sizeof(Py_UCS4)))
        return -1;
    Py_ssize_t m = 0;
    for (Py_ssize_t i = a; i < b; i++) {
        Py_UCS4 c = P->s[i];
        if (c >= 'A' && c <= 'Z')
            c += 32;
        else if (c == 0x212a)
            c = 'k';
        else if (c == 0x130) {
            P->ltag[m++] = 'i';
            c = 0x307;
        }
        P->ltag[m++] = c;
    }
    P->ltag_len = m;
    return 0;
}

/* TAGS index of the lowered tag, or -1 */
static int lookup_tag(const Parser *P) {
    Py_ssize_t len = P->ltag_len;
    if (len > MAX_TAG_LEN)
        return -1;
    char buf[MAX_TAG_LEN + 1];
    for (Py_ssize_t i = 0; i < len; i++) {
        if (P->ltag[i] > 127)
            return -1;
        buf[i] = (char)P->ltag[i];
    }
    for (int t = 0; t < N_TAGS; t++)
        if (TAGS[t].name[0] == buf[0] && strncmp(TAGS[t].name, buf, (size_t)len) == 0
            && TAGS[t].name[len] == '\0')
            return t;
    return -1;
}

static Py_ssize_t new_block(Parser *P, int kind, int rtl, int btt, int join,
                            int tag) {
    if (grow((void **)&P->blocks, &P->capblocks, P->nblocks + 1, sizeof(Block)))
        return -1;
    Block *b = &P->blocks[P->nblocks];
    memset(b, 0, sizeof(Block));
    b->kind = kind;
    b->rtl = (char)rtl;
    b->btt = (char)btt;
    b->join = (char)join;
    b->tag = tag;
    return P->nblocks++;
}

static int push_block(Parser *P, Py_ssize_t bi) {
    if (grow((void **)&P->stack, &P->capstack, P->nstack + 1, sizeof(Py_ssize_t)))
        return -1;
    P->stack[P->nstack++] = bi;
    return 0;
}

static inline Block *top_block(Parser *P) {
    return P->nstack ? &P->blocks[P->stack[P->nstack - 1]] : NULL;
}

static inline int cur_rtl(const Parser *P) {
    return P->ndirs ? P->dirs[P->ndirs - 1].rtl : 0;
}

static int block_reserve(Block *b, Py_ssize_t extra) {
    Py_ssize_t need = b->len + extra;
    if (need <= b->cap)
        return 0;
    Py_ssize_t c = b->cap ? b->cap : 64;
    while (c < need)
        c *= 2;
    Py_UCS4 *t = PyMem_Realloc(b->text, (size_t)c * sizeof(Py_UCS4));
    if (t == NULL)
        goto nomem;
    b->text = t;
    unsigned char *bits = PyMem_Realloc(b->bits, (size_t)c);
    if (bits == NULL)
        goto nomem;
    b->bits = bits;
    b->cap = c;
    return 0;
nomem:
    PyErr_NoMemory();
    return -1;
}

/* a one-character separator part: ' ' between inline siblings, '\n' for <br> */
static int append_sep(Block *b, Py_UCS4 c) {
    if (block_reserve(b, 1))
        return -1;
    b->text[b->len] = c;
    b->bits[b->len] = 0;
    b->len++;
    return 0;
}

/* one text run, already unescaped */
static int text_chunk(Parser *P, const Py_UCS4 *c, Py_ssize_t len) {
    Py_ssize_t i = 0;
    while (i < len && Py_UNICODE_ISSPACE(c[i]))
        i++;
    if (i == len) {
        /* keep a single separator between inline siblings, but never open
         * an implicit block on pure whitespace */
        Block *top = top_block(P);
        return (top && top->len) ? append_sep(top, ' ') : 0;
    }
    if (!P->nstack) {
        /* bare text outside any block opens an implicit paragraph */
        Py_ssize_t bi = new_block(P, P->boiler_depth ? K_NOISE : K_PARAGRAPH,
                                  cur_rtl(P), 0, 0, -1);
        if (bi < 0 || push_block(P, bi))
            return -1;
    }
    Block *b = top_block(P);
    if (block_reserve(b, len))
        return -1;
    Py_UCS4 *out = b->text + b->len;
    unsigned char bits = (unsigned char)P->style_bits;
    Py_ssize_t m = 0, spaces = 0;
    int in_ws = 0;
    for (i = 0; i < len; i++) {
        Py_UCS4 ch = c[i];
        if (is_ws_ascii(ch)) {
            /* _WS_RE.sub(" ", chunk) */
            if (in_ws)
                continue;
            in_ws = 1;
            ch = ' ';
            spaces++;
        } else {
            in_ws = 0;
        }
        out[m++] = ch;
    }
    memset(b->bits + b->len, bits, (size_t)m);
    b->len += m;
    if (P->link_depth > 0)
        b->link_chars += m - spaces;
    if (bits)
        b->styled = 1;
    return 0;
}

static int text_run(Parser *P, Py_ssize_t a, Py_ssize_t b) {
    const Py_UCS4 *s = P->s;
    Py_ssize_t i = a;
    while (i < b && s[i] != '&')
        i++;
    if (i == b)
        return text_chunk(P, s + a, b - a);
    /* entities: html.unescape in Python, then the same chunk handling */
    PyObject *raw = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, s + a, b - a);
    if (raw == NULL)
        return -1;
    PyObject *txt = PyObject_CallOneArg(py_unescape, raw);
    Py_DECREF(raw);
    if (txt == NULL)
        return -1;
    if (!PyUnicode_Check(txt)) {
        Py_DECREF(txt);
        PyErr_SetString(PyExc_TypeError, "unescape must return str");
        return -1;
    }
    Py_UCS4 *u = PyUnicode_AsUCS4Copy(txt);
    Py_ssize_t ulen = PyUnicode_GET_LENGTH(txt);
    Py_DECREF(txt);
    if (u == NULL)
        return -1;
    int rc = text_chunk(P, u, ulen);
    PyMem_Free(u);
    return rc;
}

static int contains_ascii(const Py_UCS4 *s, Py_ssize_t n, const char *needle) {
    Py_ssize_t k = (Py_ssize_t)strlen(needle);
    for (Py_ssize_t i = 0; i + k <= n; i++) {
        Py_ssize_t j = 0;
        while (j < k && s[i + j] == (Py_UCS4)needle[j])
            j++;
        if (j == k)
            return 1;
    }
    return 0;
}

static int push_dir(Parser *P, int rtl) {
    if (grow((void **)&P->dirs, &P->capdirs, P->ndirs + 1, sizeof(DirScope)))
        return -1;
    Py_UCS4 *t = PyMem_Malloc((size_t)(P->ltag_len ? P->ltag_len : 1) * sizeof(Py_UCS4));
    if (t == NULL) {
        PyErr_NoMemory();
        return -1;
    }
    memcpy(t, P->ltag, (size_t)P->ltag_len * sizeof(Py_UCS4));
    P->dirs[P->ndirs].tag = t;
    P->dirs[P->ndirs].len = P->ltag_len;
    P->dirs[P->ndirs].rtl = rtl;
    P->ndirs++;
    return 0;
}

/* close a scope: an end tag, or a self-closed block/style tag */
static void close_scope(Parser *P, int tid) {
    int cat = tid >= 0 ? TAGS[tid].cat : CAT_OTHER;
    if (P->ndirs) {
        DirScope *d = &P->dirs[P->ndirs - 1];
        if (d->len == P->ltag_len
            && memcmp(d->tag, P->ltag, (size_t)d->len * sizeof(Py_UCS4)) == 0) {
            PyMem_Free(d->tag);
            P->ndirs--;
        }
    }
    if (cat == CAT_BLOCK) {
        /* close innermost matching open block (lenient parser) */
        if (P->nstack && top_block(P)->tag < 0)
            P->nstack--;
        if (P->nstack && top_block(P)->tag == tid)
            P->nstack--;
    } else if (cat == CAT_STYLE) {
        int bit = TAGS[tid].arg, k = bit == 1 ? 0 : bit == 2 ? 1 : 2;
        if (P->style_depth[k] > 0 && --P->style_depth[k] == 0)
            P->style_bits &= ~bit;
    } else if (cat == CAT_A) {
        if (P->link_depth)
            P->link_depth--;
    } else if (cat == CAT_BOILER) {
        if (P->boiler_depth)
            P->boiler_depth--;
    }
}

/* s[a:b] equals the ASCII lower-case target under ASCII case folding
 * (str.lower() maps no other code point onto these targets' letters) */
static int ascii_ieq(const Py_UCS4 *s, Py_ssize_t a, Py_ssize_t b, const char *target) {
    Py_ssize_t k = (Py_ssize_t)strlen(target);
    if (b - a != k)
        return 0;
    for (Py_ssize_t j = 0; j < k; j++) {
        Py_UCS4 c = s[a + j];
        if (c >= 'A' && c <= 'Z')
            c += 32;
        if (c != (Py_UCS4)target[j])
            return 0;
    }
    return 1;
}

/* _unquote_attr(value).lower() in targets (NULL-terminated), for the value
 * s[a:b]; an entity in it takes html.unescape and str.lower() in Python */
static int attr_value_in(const Parser *P, Py_ssize_t a, Py_ssize_t b,
                         const char *const *targets) {
    const Py_UCS4 *s = P->s;
    if (b - a >= 2 && (s[a] == '"' || s[a] == '\'') && s[b - 1] == s[a]) {
        a++;
        b--;
    }
    Py_ssize_t i = a;
    while (i < b && s[i] != '&')
        i++;
    if (i == b) {
        for (; *targets; targets++)
            if (ascii_ieq(s, a, b, *targets))
                return 1;
        return 0;
    }
    PyObject *raw = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, s + a, b - a);
    if (raw == NULL)
        return -1;
    PyObject *txt = PyObject_CallOneArg(py_unescape, raw);
    Py_DECREF(raw);
    if (txt == NULL)
        return -1;
    PyObject *low = PyObject_CallMethod(txt, "lower", NULL);
    Py_DECREF(txt);
    if (low == NULL)
        return -1;
    int found = 0;
    if (PyUnicode_Check(low))
        for (; *targets && !found; targets++)
            found = PyUnicode_CompareWithASCIIString(low, *targets) == 0;
    Py_DECREF(low);
    return found;
}

static const char *const DIR_RTL[] = {"rtl", NULL};
static const char *const DIR_ANY[] = {"rtl", "ltr", NULL};
static const char *const ORDER_BTT[] = {"btt", "bottom-to-top", NULL};

/* dir / data-line-order / data-join of one start tag's attributes s[a:b],
 * read as dict(_ATTR_RE.findall(attrs)) reads them (the last of repeated
 * names wins); *rtl is -1 when the tag sets no direction */
static int tag_attrs(Parser *P, Py_ssize_t a, Py_ssize_t b, int *rtl, int *btt,
                     int *join) {
    const Py_UCS4 *s = P->s;
    Py_ssize_t dir_a = -1, dir_b = -1, ord_a = -1, ord_b = -1;
    *join = 0;
    for (Py_ssize_t i = a; i < b;) {
        /* ([a-zA-Z][a-zA-Z0-9_:-]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))? */
        if (!is_ascii_alpha(s[i])) {
            i++;
            continue;
        }
        Py_ssize_t na = i++;
        while (i < b && (is_ascii_alpha(s[i]) || (s[i] >= '0' && s[i] <= '9')
                         || s[i] == '_' || s[i] == ':' || s[i] == '-'))
            i++;
        Py_ssize_t nb = i, va = i, vb = i; /* no '=': the value is '' */
        while (i < b && Py_UNICODE_ISSPACE(s[i]))
            i++;
        if (i < b && s[i] == '=') {
            Py_ssize_t j = i + 1;
            while (j < b && Py_UNICODE_ISSPACE(s[j]))
                j++;
            Py_ssize_t k = j;
            if (j < b && (s[j] == '"' || s[j] == '\'')) {
                k = j + 1;
                while (k < b && s[k] != s[j])
                    k++;
                k = k < b ? k + 1 : j; /* no closing quote: unquoted */
            }
            if (k == j)
                while (k < b && !Py_UNICODE_ISSPACE(s[k]) && s[k] != '>')
                    k++;
            va = j;
            vb = i = k;
        }
        if (ascii_ieq(s, na, nb, "dir")) {
            dir_a = va;
            dir_b = vb;
        } else if (ascii_ieq(s, na, nb, "data-line-order")) {
            ord_a = va;
            ord_b = vb;
        } else if (ascii_ieq(s, na, nb, "data-join")) {
            *join = 1;
        }
    }
    *rtl = -1;
    *btt = 0;
    if (dir_a >= 0) {
        int any = attr_value_in(P, dir_a, dir_b, DIR_ANY);
        if (any < 0)
            return -1;
        if (any) {
            *rtl = attr_value_in(P, dir_a, dir_b, DIR_RTL);
            if (*rtl < 0)
                return -1;
        }
    }
    if (ord_a >= 0 && (*btt = attr_value_in(P, ord_a, ord_b, ORDER_BTT)) < 0)
        return -1;
    return 0;
}

/* oracle._parse_blocks over P->s; fills P->blocks */
static int parse(Parser *P) {
    const Py_UCS4 *s = P->s;
    Py_ssize_t n = P->n, pos = 0;
    while (pos < n) {
        Py_ssize_t st = pos;
        while (st < n && s[st] != '<')
            st++;
        if (st > pos && text_run(P, pos, st))
            return -1;
        if (st >= n)
            break;
        /* the token at st: which _TOKEN_RE branch matches, and its end */
        enum { T_BOGUS, T_START, T_END, T_COMMENT, T_CDATA } kind = T_BOGUS;
        Py_ssize_t name_a = 0, name_b = 0, pend;
        Py_UCS4 c1 = st + 1 < n ? s[st + 1] : 0;
        if (is_name_start(c1)) {
            Py_ssize_t e = st + 2;
            while (e < n && is_name_char(s[e]))
                e++;
            Py_ssize_t gt = next_gt(P, e);
            if (gt >= 0) {
                kind = T_START;
                name_a = st + 1;
                name_b = e;
            }
            pend = gt >= 0 ? gt + 1 : n;
        } else if (c1 == '/') {
            Py_ssize_t j = st + 2;
            while (j < n && Py_UNICODE_ISSPACE(s[j]))
                j++;
            if (j < n && is_name_start(s[j])) {
                Py_ssize_t e = j + 1;
                while (e < n && is_name_char(s[e]))
                    e++;
                Py_ssize_t gt = next_gt(P, e);
                if (gt >= 0) {
                    kind = T_END;
                    name_a = j;
                    name_b = e;
                }
                pend = gt >= 0 ? gt + 1 : n;
            } else {
                Py_ssize_t gt = next_gt(P, st + 1);
                pend = gt >= 0 ? gt + 1 : n;
            }
        } else if (c1 == '!' && st + 3 < n && s[st + 2] == '-' && s[st + 3] == '-') {
            kind = T_COMMENT;
            pend = st + 4;
        } else if (c1 == '!' && st + 8 < n && s[st + 2] == '['
                   && fold_eq(s[st + 3], 'c') && fold_eq(s[st + 4], 'd')
                   && fold_eq(s[st + 5], 'a') && fold_eq(s[st + 6], 't')
                   && fold_eq(s[st + 7], 'a') && s[st + 8] == '[') {
            kind = T_CDATA;
            pend = st + 9;
        } else {
            /* doctype or bogus markup: dropped up to the next '>' */
            Py_ssize_t gt = next_gt(P, st + 1);
            pend = gt >= 0 ? gt + 1 : n;
        }
        pos = pend;

        if (kind == T_BOGUS)
            continue;
        if (kind == T_COMMENT || kind == T_CDATA) {
            /* skip past the first closer; with none left, drop up to the
             * next '>' like bogus markup */
            int k = kind == T_CDATA;
            const char *closer = k ? "]]>" : "-->";
            if (P->last_closer[k] == -2)
                P->last_closer[k] = find_closer(P, 0, n, 1, closer);
            if (P->last_closer[k] >= pos) {
                pos = find_closer(P, pos, n, 0, closer) + 3;
            } else {
                Py_ssize_t gt = next_gt(P, pos);
                pos = gt >= 0 ? gt + 1 : n;
            }
            continue;
        }
        if (lower_tag(P, name_a, name_b))
            return -1;
        int tid = lookup_tag(P);
        int cat = tid >= 0 ? TAGS[tid].cat : CAT_OTHER;
        if (kind == T_END) {
            if (cat != CAT_SKIP)
                close_scope(P, tid);
            continue;
        }

        /* -- start tag ------------------------------------------------ */
        if (cat == CAT_SKIP) {
            /* fast-forward past the raw content (script/style/...) */
            Py_ssize_t mm = find_skip_end(P, pos, TAGS[tid].name);
            if (mm < 0)
                break;
            Py_ssize_t gt = next_gt(P, mm);
            pos = gt >= 0 ? gt + 1 : n;
            continue;
        }
        Py_ssize_t attrs_a = name_b, attrs_b = pend - 1;
        int selfclose = attrs_b > attrs_a && s[attrs_b - 1] == '/';
        if (selfclose)
            attrs_b--;
        int btt = 0, join = 0;
        Py_ssize_t alen = attrs_b - attrs_a;
        if (alen && (contains_ascii(s + attrs_a, alen, "dir")
                     || contains_ascii(s + attrs_a, alen, "data-join")
                     || contains_ascii(s + attrs_a, alen, "data-line-order"))) {
            int rtl;
            if (tag_attrs(P, attrs_a, attrs_b, &rtl, &btt, &join))
                return -1;
            if (rtl >= 0 && push_dir(P, rtl))
                return -1;
        }
        if (cat == CAT_OTHER) {
            /* any other tag: counts toward text_density only */
            if (P->nstack)
                top_block(P)->tag_count++;
            continue;
        }
        if (cat >= CAT_BOILER && P->nstack && top_block(P)->tag < 0)
            P->nstack--; /* ends an implicit paragraph */
        if (cat == CAT_BLOCK) {
            Py_ssize_t bi = new_block(P, P->boiler_depth ? K_NOISE : TAGS[tid].arg,
                                      cur_rtl(P), btt, join, tid);
            if (bi < 0 || push_block(P, bi))
                return -1;
            if (selfclose)
                close_scope(P, tid);
        } else if (cat == CAT_STYLE) {
            int bit = TAGS[tid].arg;
            P->style_depth[bit == 1 ? 0 : bit == 2 ? 1 : 2]++;
            P->style_bits |= bit;
            if (P->nstack)
                top_block(P)->tag_count++;
            if (selfclose)
                close_scope(P, tid);
        } else if (cat == CAT_A) {
            /* start-only, also when self-closed */
            P->link_depth++;
            if (P->nstack)
                top_block(P)->tag_count++;
        } else if (cat == CAT_BR) {
            if (P->nstack && append_sep(top_block(P), '\n'))
                return -1;
        } else if (cat == CAT_BOILER) {
            P->boiler_depth++;
        } else { /* CAT_VOID */
            if (new_block(P, P->boiler_depth ? K_NOISE : TAGS[tid].arg, 0, 0, 0, -1) < 0)
                return -1;
        }
    }
    return 0;
}

/* ---------------------------------------------------------------------- */
/* assembly                                                                */
/* ---------------------------------------------------------------------- */

/* round(x, 6) */
static PyObject *round6(double x) {
    if (fabs(x) < 1e6) {
        double y = x * 1e6, r = nearbyint(y), d = fabs(y - r);
        /* y - r is exact, and the exact x * 10**6 lies within half an ulp
         * (< 1e-4 here) of y: away from a half-way point that cannot
         * change the nearest integer, and r / 10**6 is then correctly
         * rounded like the decimal string float.__round__ parses */
        if (d < 0.499)
            return PyFloat_FromDouble(r / 1e6);
    }
    /* near a tie: round through the correctly rounded decimal string, as
     * float.__round__ does */
    char *buf = PyOS_double_to_string(x, 'f', 6, 0, NULL);
    if (buf == NULL)
        return NULL;
    double v = PyOS_string_to_double(buf, NULL, NULL);
    PyMem_Free(buf);
    if (v == -1.0 && PyErr_Occurred())
        return NULL;
    return PyFloat_FromDouble(v);
}

static PyObject *block_tuple(const Block *b, PyObject *lines,
                             Py_ssize_t total, PyObject *ld, PyObject *td) {
    PyObject *tc = PyLong_FromSsize_t(total);
    if (tc == NULL)
        return NULL;
    PyObject *t = PyTuple_New(7);
    if (t == NULL) {
        Py_DECREF(tc);
        return NULL;
    }
    PyTuple_SET_ITEM(t, 0, Py_NewRef(kind_str[b->kind]));
    PyTuple_SET_ITEM(t, 1, Py_NewRef(b->rtl ? Py_True : Py_False));
    PyTuple_SET_ITEM(t, 2, Py_NewRef(b->join ? Py_True : Py_False));
    PyTuple_SET_ITEM(t, 3, Py_NewRef(lines));
    PyTuple_SET_ITEM(t, 4, tc);
    PyTuple_SET_ITEM(t, 5, Py_NewRef(ld));
    PyTuple_SET_ITEM(t, 6, Py_NewRef(td));
    return t;
}

/* one line s[a:e] of the block: (words, bits) or NULL with *empty set when
 * the line holds no word */
static PyObject *line_tuple(const Block *b, Py_ssize_t a, Py_ssize_t e, int *empty) {
    const Py_UCS4 *s = b->text;
    Py_ssize_t nw = 0;
    for (Py_ssize_t i = a; i < e;) {
        while (i < e && Py_UNICODE_ISSPACE(s[i]))
            i++;
        if (i == e)
            break;
        nw++;
        while (i < e && !Py_UNICODE_ISSPACE(s[i]))
            i++;
    }
    *empty = nw == 0;
    if (nw == 0)
        return NULL;
    PyObject *words = PyList_New(nw), *bits = NULL, *t = NULL;
    if (words == NULL)
        return NULL;
    if (b->styled && (bits = PyList_New(nw)) == NULL)
        goto fail;
    Py_ssize_t k = 0;
    for (Py_ssize_t i = a; i < e;) {
        while (i < e && Py_UNICODE_ISSPACE(s[i]))
            i++;
        if (i == e)
            break;
        Py_ssize_t ws = i;
        int wbits = 0;
        while (i < e && !Py_UNICODE_ISSPACE(s[i]))
            wbits |= b->bits[i++];
        /* RTL blocks reverse word order per line */
        Py_ssize_t slot = b->rtl ? nw - 1 - k : k;
        PyObject *w = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, s + ws, i - ws);
        if (w == NULL)
            goto fail;
        PyList_SET_ITEM(words, slot, w);
        if (bits) {
            PyObject *v = PyLong_FromLong(wbits);
            if (v == NULL)
                goto fail;
            PyList_SET_ITEM(bits, slot, v);
        }
        k++;
    }
    t = PyTuple_Pack(2, words, bits ? bits : Py_None);
fail:
    Py_DECREF(words);
    Py_XDECREF(bits);
    return t;
}

/* oracle._assemble_block plus the empty-block filter; appends to out */
static int assemble(const Block *b, PyObject *out, PyObject *zero_f) {
    if (b->len == 0) {
        if (b->kind != K_SEPARATOR && b->kind != K_IMAGE)
            return 0;
        PyObject *lines = PyList_New(0);
        if (lines == NULL)
            return -1;
        PyObject *t = block_tuple(b, lines, 0, zero_f, zero_f);
        Py_DECREF(lines);
        if (t == NULL)
            return -1;
        int rc = PyList_Append(out, t);
        Py_DECREF(t);
        return rc;
    }
    PyObject *lines = PyList_New(0);
    if (lines == NULL)
        return -1;
    Py_ssize_t total = 0;
    for (Py_ssize_t a = 0; a <= b->len;) {
        Py_ssize_t e = a;
        while (e < b->len && b->text[e] != '\n')
            e++;
        int empty;
        PyObject *line = line_tuple(b, a, e, &empty);
        if (line == NULL && !empty)
            goto fail;
        if (line != NULL) {
            int rc = PyList_Append(lines, line);
            Py_DECREF(line);
            if (rc)
                goto fail;
        }
        for (Py_ssize_t i = a; i < e; i++)
            total += b->text[i] != ' ';
        a = e + 1;
    }
    if (PyList_GET_SIZE(lines) == 0 && b->kind != K_SEPARATOR && b->kind != K_IMAGE) {
        Py_DECREF(lines);
        return 0;
    }
    /* bottom-to-top textLineOrder reverses line traversal */
    if (b->btt && PyList_Reverse(lines))
        goto fail;
    PyObject *ld = b->link_chars ? round6((double)b->link_chars / (double)total)
                                 : Py_NewRef(zero_f);
    if (ld == NULL)
        goto fail;
    PyObject *td = round6((double)total / (1.0 + (double)b->tag_count));
    if (td == NULL) {
        Py_DECREF(ld);
        goto fail;
    }
    PyObject *t = block_tuple(b, lines, total, ld, td);
    Py_DECREF(ld);
    Py_DECREF(td);
    Py_DECREF(lines);
    if (t == NULL)
        return -1;
    int rc = PyList_Append(out, t);
    Py_DECREF(t);
    return rc;
fail:
    Py_DECREF(lines);
    return -1;
}

static PyObject *zero_float;

static PyObject *assembled_blocks(PyObject *self, PyObject *html) {
    (void)self;
    PyObject *str;
    if (py_unescape == NULL || py_fallback == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "_cprefix.setup() was not called");
        return NULL;
    }
    if (html == Py_None) {
        PyErr_SetString(PyExc_ValueError, "null payload");
        return NULL;
    }
    if (PyBytes_Check(html)) {
        str = PyUnicode_DecodeUTF8(PyBytes_AS_STRING(html), PyBytes_GET_SIZE(html), "strict");
        if (str == NULL)
            return NULL;
    } else if (PyUnicode_Check(html)) {
        str = Py_NewRef(html);
    } else {
        return PyObject_CallOneArg(py_fallback, html);
    }
    Parser P;
    memset(&P, 0, sizeof(P));
    P.n = PyUnicode_GET_LENGTH(str);
    P.gt_from = P.n + 1;
    P.last_closer[0] = P.last_closer[1] = -2;
    Py_UCS4 *u = PyUnicode_AsUCS4Copy(str);
    Py_DECREF(str);
    if (u == NULL)
        return NULL;
    P.s = u;
    PyObject *out = NULL;
    if (parse(&P) == 0 && (out = PyList_New(0)) != NULL) {
        for (Py_ssize_t i = 0; i < P.nblocks; i++) {
            if (assemble(&P.blocks[i], out, zero_float)) {
                Py_CLEAR(out);
                break;
            }
        }
    }
    parser_free(&P);
    PyMem_Free(u);
    return out;
}

static PyObject *setup(PyObject *self, PyObject *args) {
    (void)self;
    PyObject *unescape, *fallback;
    if (!PyArg_ParseTuple(args, "OO:setup", &unescape, &fallback))
        return NULL;
    Py_XSETREF(py_unescape, Py_NewRef(unescape));
    Py_XSETREF(py_fallback, Py_NewRef(fallback));
    Py_RETURN_NONE;
}

static PyMethodDef methods[] = {
    {"assembled_blocks", assembled_blocks, METH_O,
     "html payload -> oracle._assembled_blocks(html), compiled."},
    {"setup", setup, METH_VARARGS,
     "setup(unescape, fallback): html.unescape and the pure-Python prefix."},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef module = {
    PyModuleDef_HEAD_INIT,
    .m_name = "_cprefix",
    .m_doc = "The kernel's decode -> parse -> assemble prefix, compiled.",
    .m_size = -1,
    .m_methods = methods,
};

PyMODINIT_FUNC PyInit__cprefix(void) {
    for (int k = 0; k < N_KINDS; k++) {
        if (kind_str[k] == NULL && (kind_str[k] = PyUnicode_InternFromString(KIND_NAMES[k])) == NULL)
            return NULL;
    }
    if (zero_float == NULL && (zero_float = PyFloat_FromDouble(0.0)) == NULL)
        return NULL;
    return PyModule_Create(&module);
}
