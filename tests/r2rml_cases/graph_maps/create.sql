CREATE TABLE "DOC" (
  "ID" INTEGER PRIMARY KEY,
  "TITLE" VARCHAR(30),
  "G" VARCHAR(100),
  "SECTION" VARCHAR(20)
);
INSERT INTO "DOC" VALUES (1, 'Alpha', 'http://data.example.com/graph/archive', 'news');
INSERT INTO "DOC" VALUES (2, 'Beta', NULL, 'sports');
INSERT INTO "DOC" VALUES (3, 'Gamma', 'http://data.example.com/graph/archive', NULL);
